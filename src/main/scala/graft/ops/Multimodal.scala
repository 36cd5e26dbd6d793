package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Query}

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `BinaryType` columns with typed metadata. The Spark-side machinery
  * (schema, batching, partition sizing, feature extraction signature)
  * is real, and the decode seam has a REAL image implementation:
  * [[ImageIoDecoder]] header-decodes PNG/JPEG/GIF/BMP via the JDK's
  * `javax.imageio` (no extra dependency). [[StubDecoder]] remains the
  * deterministic test double for non-image payload plumbing (audio/
  * video codecs aren't in this container — see the builder prompt).
  *
  * Scale notes: binary payloads dominate row size, so the operators
  * (a) never shuffle payload bytes — metadata is extracted first and
  * payloads dropped before any wide operation; and (b) decode runs in
  * `mapPartitions` so a real decoder amortizes per-partition
  * initialization (model load, codec context) exactly like a Pandas
  * UDF batch would.
  */
object Multimodal {
  import Fixtures._

  /** A decoded media item: dimensions + a small feature vector. */
  final case class DecodedMedia(width: Int, height: Int, nFrames: Int, feature: Array[Float])

  /** The decode seam. A real implementation would wrap an image/audio
    * codec; the stub derives deterministic pseudo-metadata from the
    * leading bytes so the plumbing is testable end to end.
    */
  trait BinaryDecoder extends Serializable {
    def decode(payload: Array[Byte]): DecodedMedia
  }

  /** STUB decoder — NOT a real codec. Deterministic fake: dimensions
    * from leading bytes, feature = normalized byte histogram moments.
    */
  object StubDecoder extends BinaryDecoder {
    def decode(payload: Array[Byte]): DecodedMedia = {
      val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      val mean = if (payload.isEmpty) 0f else payload.map(_ & 0xff).sum.toFloat / payload.length
      DecodedMedia(width = 16 + b0, height = 16 + b1, nFrames = 1 + payload.length % 8, Array(mean, payload.length.toFloat))
    }
  }

  /** Real image decode via `javax.imageio` (public JDK API, no extra
    * dependency): recognizes the container from the payload HEADER
    * (PNG/JPEG/GIF/BMP magic), reads width/height/components from the
    * format header only — `ImageReader.getWidth(0)` parses the IHDR /
    * SOF marker without decoding pixel data, so at 100 TB the decode
    * cost per row is O(header), not O(pixels). `feature(0)` carries
    * the channel count (3 for RGB, 1 for gray), `feature(1)` the
    * payload size. Frame count uses the reader's cheap path and
    * defaults to 1 when the format would need a full-stream search.
    */
  object ImageIoDecoder extends BinaryDecoder {
    def decode(payload: Array[Byte]): DecodedMedia = {
      // MemoryCacheImageInputStream, NOT ImageIO.createImageInputStream:
      // the factory's default disk cache spills every payload to a temp
      // file as it is read — per-row file create/delete churn that a
      // byte-array input never needs (and a 100 TB decode pass must not
      // pay). The payload is already in memory; cache there.
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"no ImageIO reader recognizes the ${payload.length}-byte payload header")
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true) // seekForwardOnly, ignoreMetadata: header-only access
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          val channels = {
            val types = reader.getImageTypes(0)
            if (types.hasNext) types.next().getNumComponents else -1
          }
          val n = reader.getNumImages(false) match { // allowSearch=false: never scans the stream
            case k if k >= 1 => k
            case _           => 1
          }
          DecodedMedia(w, h, n, Array(channels.toFloat, payload.length.toFloat))
        } finally reader.dispose()
      } finally if (iis != null) iis.close()
    }
  }

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int, n_frames: Int, feat_mean: Float, feat_len: Float)

  /** Decode + featurize via mapPartitions (per-partition decoder
    * amortization); payload is dropped on output so downstream
    * shuffles never carry media bytes.
    */
  def decodeFeatures(media: Dataset[MediaRow], decoder: BinaryDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val m = decoder.decode(r.payload)
        MediaFeatures(r.doc_id, m.width, m.height, m.nFrames, m.feature(0), m.feature(1))
      }
    }
  }

  /** Documents-as-media: text bytes stand in for payloads. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRow] = {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Pure-SQL metadata extraction over the binary column (byte length,
    * content hash, leading-bytes hex) — the part expressible in both
    * engines and oracle-checked.
    */
  val multimodalMeta: Q = (s, d) =>
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        hex(expr("substring(payload, 1, 8)")).as("head_hex")
      )
      .orderBy("doc_id")

  final case class ResizedMedia(doc_id: Long, width: Int, height: Int, out_width: Int, out_height: Int)

  /** Aspect-preserving fit of `w`×`h` into a `maxW`×`maxH` box:
    * scale = min(maxW/w, maxH/h) floor'd via cross-multiplication (no
    * floating point), never upscaled past the original. ONE definition
    * shared by the metadata-only [[resizeTo]] and the pixel-true
    * [[resizeImage]], so the two paths cannot drift.
    */
  def boxFit(w: Int, h: Int, maxW: Int, maxH: Int): (Int, Int) =
    if (w <= maxW && h <= maxH) (w, h)
    else if (w.toLong * maxH <= h.toLong * maxW)
      (math.max(1, (w.toLong * maxH / h).toInt), maxH)
    else (maxW, math.max(1, (h.toLong * maxW / w).toInt))

  /** Resize seam: decode, then fit into a `maxW`×`maxH` box with
    * aspect-preserving integer arithmetic. Metadata-only — reports the
    * target dimensions without touching pixels; [[resizeImage]] is the
    * pixel-true twin for when the resized BYTES are the product.
    */
  def resizeTo(media: Dataset[MediaRow], decoder: BinaryDecoder, maxW: Int, maxH: Int): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val m = decoder.decode(r.payload)
        val (ow, oh) = boxFit(m.width, m.height, maxW, maxH)
        ResizedMedia(r.doc_id, m.width, m.height, ow, oh)
      }
    }
  }

  /** REAL pixel resize via the JDK's AWT raster pipeline (public API,
    * no extra dependency): full-decode the image, draw it scaled with
    * bilinear interpolation into a [[boxFit]]-sized raster, re-encode
    * PNG. Identity payloads (already inside the box) return UNCHANGED
    * bytes — no decode-re-encode round trip, no byte churn. This is
    * the thumbnail/normalize pass of a vision-data pipeline; unlike
    * the header-only decoders its cost IS O(pixels), which is why it
    * belongs behind frame/row sampling at 100 TB, never before it.
    */
  def resizeImage(payload: Array[Byte], maxW: Int, maxH: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"no ImageIO reader recognizes the ${payload.length}-byte payload")
    val (w, h) = (img.getWidth, img.getHeight)
    val (ow, oh) = boxFit(w, h, maxW, maxH)
    if (ow == w && oh == h) payload
    else {
      val out = new java.awt.image.BufferedImage(ow, oh, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, ow, oh, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** Deterministic frame sampling: the payload is treated as a
    * sequence of fixed-size frames (the video analog: every-Nth-frame
    * selection BEFORE decode, so the expensive decode only ever runs
    * on sampled frames). Pure SQL on both engines — frame boundaries
    * and hashes are oracle-checked; char-based windows stand in for
    * byte-frames (ASCII fixture, same equivalence multimodal_meta
    * relies on).
    */
  private val frameChars = 256
  private val sampleEveryNth = 4
  val multimodalFrameSample: Q = (s, d) =>
    documents(s, d)
      .withColumn("n_frames", expr(s"CAST(ceil(length(text) / $frameChars.0) AS INT)"))
      .select(col("doc_id"), col("text"), explode(expr("sequence(0, n_frames - 1)")).as("frame_idx"))
      .filter(col("frame_idx") % sampleEveryNth === 0)
      .select(
        col("doc_id"),
        col("frame_idx").cast("bigint").as("frame_idx"),
        md5(expr(s"cast(substring(text, frame_idx * $frameChars + 1, $frameChars) as binary)")).as("frame_md5")
      )
      .orderBy("doc_id", "frame_idx")

  /** Deterministic PNG bytes: a real, spec-compliant image the JDK
    * writer produces for a pixel pattern derived from `seed` — used by
    * [[multimodalDecode]] and the specs so the decoder is exercised on
    * genuine container bytes with NO RNG and no fixture files.
    */
  def syntheticPng(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = ((seed + x * 31L + y * 17L) % 256).toInt
        img.setRGB(x, y, (v << 16) | ((255 - v) << 8) | ((v * 7) % 256))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Width/height derived from the doc id — the ONLY inputs to the
    * synthetic image, so the DuckDB oracle can compute the expected
    * dimensions arithmetically while Spark must round-trip them
    * through a real PNG encode → `javax.imageio` header decode. A
    * decoder that fabricates dimensions (the stub) fails this gate.
    */
  private def dimsOf(id: Long): (Int, Int) = ((16 + id % 32).toInt, (16 + id % 17).toInt)

  /** Oracle-gated REAL decode round trip: per document, synthesize a
    * PNG at formula-derived dimensions, then recover width/height/
    * channels/frames from the bytes via [[ImageIoDecoder]] inside the
    * same mapPartitions seam production payloads would flow through
    * (encode and decode amortize per partition; no payload bytes ever
    * shuffle — only the extracted metadata leaves the partition).
    */
  val multimodalDecode: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h) = dimsOf(id)
          val m = ImageIoDecoder.decode(syntheticPng(w, h, seed = id))
          (id, m.width, m.height, m.feature(0).toInt, m.nFrames)
        }
      }
      .toDF("doc_id", "img_width", "img_height", "channels", "n_frames")
      .orderBy("doc_id")
  }

  /** Full-pixel feature extraction: per-channel integer sums over the
    * decoded raster — the moment a vision pipeline actually LOOKS at
    * pixels (brightness stats, channel balance, dead-image detection).
    * Integer sums, not float means: bit-exact across engines and
    * aggregation orders. O(pixels) per row by nature, so like
    * [[resizeImage]] it runs after sampling at scale, never as a
    * corpus-wide first pass.
    */
  def pixelSums(payload: Array[Byte]): (Long, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"no ImageIO reader recognizes the ${payload.length}-byte payload")
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    (img.getWidth.toLong * img.getHeight, sr, sg, sb)
  }

  /** Oracle-gated REAL pixel decode: synthesize a PNG per document
    * whose every pixel is a pure function of (doc_id, x, y), then
    * recover per-channel sums from the BYTES via the full AWT decode.
    * The oracle recomputes the sums arithmetically over the (x, y)
    * grid — a decoder that drops rows, misorders channels (BGR vs
    * RGB), or loses precision in the PNG round trip fails the gate.
    */
  val multimodalPixelStats: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h) = dimsOf(id)
          val (n, sr, sg, sb) = pixelSums(syntheticPng(w, h, seed = id))
          (id, n, sr, sg, sb)
        }
      }
      .toDF("doc_id", "n_pixels", "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id")
  }

  private val resizeBoxW = 24
  private val resizeBoxH = 20
  /** Oracle-gated REAL resize round trip: synthesize a PNG at
    * formula-derived dimensions, [[resizeImage]] it into a 24×20 box,
    * then decode the OUTPUT bytes — the reported dimensions come from
    * the resized container itself, so a resize that wrote the wrong
    * raster (or an identity path that re-encoded) cannot pass. The
    * fixture dimension range straddles the box on both axes, so the
    * identity, clamp-width and clamp-height branches all execute.
    */
  val multimodalResize: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h) = dimsOf(id)
          val resized = resizeImage(syntheticPng(w, h, seed = id), resizeBoxW, resizeBoxH)
          val m = ImageIoDecoder.decode(resized)
          (id, w, h, m.width, m.height)
        }
      }
      .toDF("doc_id", "in_width", "in_height", "out_width", "out_height")
      .orderBy("doc_id")
  }

  /** Perceptual image fingerprint — difference hash (dHash, the
    * Krawetz recipe) with NEAREST-NEIGHBOR grid sampling instead of an
    * interpolated shrink: gray values are read at the 9×8 grid points
    * `x_k = ⌊k·w/9⌋`, `y_r = ⌊r·h/8⌋` of the DECODED raster and each
    * bit records whether brightness rises left-to-right between
    * adjacent grid columns. Integer arithmetic end to end, so the
    * fingerprint is an exact pure function of the pixel content —
    * engine-portable (a DuckDB oracle recomputes it) where a bilinear
    * shrink would not be. Returned as two 32-bit halves in BIGINTs
    * because a 64-bit accumulation would overflow signed arithmetic
    * differently across engines. Same-looking images (identical
    * rasters, re-encoded containers) collide exactly; the near-dup
    * join over the fingerprint is then a plain hash-partitioned
    * equi-join — the image member of the dedup ladder, scaling like
    * exact text dedup (the 16-byte digest shuffles, never pixels).
    */
  def dHashHalves(img: java.awt.image.BufferedImage): (Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 10 && h >= 8, s"dHash needs a raster of at least 10x8, got ${w}x$h")
    def grayAt(x: Int, y: Int): Int = {
      val rgb = img.getRGB(x, y)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
    }
    var (lo, hi) = (0L, 0L)
    var r = 0
    while (r < 8) {
      val y = r * h / 8
      var k = 0
      while (k < 8) {
        val bit = if (grayAt((k + 1) * w / 9, y) > grayAt(k * w / 9, y)) 1L else 0L
        if (r < 4) lo |= bit << (r * 8 + k) else hi |= bit << ((r - 4) * 8 + k)
        k += 1
      }
      r += 1
    }
    (lo, hi)
  }

  /** dHash of an encoded payload: full decode, then [[dHashHalves]]. */
  def dHashOf(payload: Array[Byte]): (Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, s"no ImageIO reader recognizes the ${payload.length}-byte payload")
    dHashHalves(img)
  }

  /** Oracle-gated REAL perceptual fingerprint: synthesize a PNG per
    * document, decode it, dHash the raster. The oracle recomputes
    * every grid sample and comparison bit arithmetically from the
    * pixel formula — a wrong grid position, a channel-weighted gray,
    * or a lossy round trip flips bits and fails the hash compare.
    */
  val multimodalDhash: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h) = dimsOf(id)
          val (lo, hi) = dHashOf(syntheticPng(w, h, seed = id))
          (id, lo, hi)
        }
      }
      .toDF("doc_id", "dhash_lo", "dhash_hi")
      .orderBy("doc_id")
  }

  /** Oracle-gated image NEAR-DUP pairs over the perceptual hash: the
    * corpus re-synthesizes each document's image from `doc_id % 250`,
    * so ids 250 apart carry IDENTICAL rasters in (generally) different
    * container bytes than their source would at its own id — content
    * equality, not byte equality, is what the fingerprint must see.
    * Pairing is a self-equi-join on the hash halves (a < b), i.e. the
    * shuffle key is the 64-bit fingerprint — the plan that scales
    * like exact text dedup. The oracle recomputes the hashes and
    * replays the same join.
    */
  val multimodalImageDups: Q = (s, d) => {
    import s.implicits._
    val hashes = documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val sid = id % 250
          val (w, h) = dimsOf(sid)
          val (lo, hi) = dHashOf(syntheticPng(w, h, seed = sid))
          (id, lo, hi)
        }
      }
      .toDF("doc_id", "dhash_lo", "dhash_hi")
    hashes
      .as("a")
      .join(
        hashes.as("b"),
        col("a.dhash_lo") === col("b.dhash_lo") && col("a.dhash_hi") === col("b.dhash_hi") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("dup_a"), col("b.doc_id").as("dup_b"))
      .orderBy("dup_a", "dup_b")
  }

  /** Decoded audio metadata: everything a WAV/RIFF header carries. */
  final case class AudioMeta(sampleRate: Int, channels: Int, bitsPerSample: Int, nFrames: Long)

  /** Real audio header decode via `javax.sound.sampled` (public JDK
    * API, no extra dependency): `AudioSystem.getAudioFileFormat`
    * parses the RIFF/WAVE `fmt ` chunk only — sample rate, channel
    * count, bits per sample, and the frame count derived from the
    * `data` chunk length — WITHOUT reading the PCM payload, so at
    * 100 TB the per-row cost is O(header) exactly like
    * [[ImageIoDecoder]]'s IHDR/SOF path. Throws on a payload no
    * installed reader recognizes (the honest failure mode; callers
    * route unknowns via [[sniffMime]] first).
    */
  object WavHeaderDecoder extends Serializable {
    def decode(payload: Array[Byte]): AudioMeta = {
      val fmt = javax.sound.sampled.AudioSystem
        .getAudioFileFormat(new java.io.ByteArrayInputStream(payload))
      val af = fmt.getFormat
      AudioMeta(af.getSampleRate.toInt, af.getChannels, af.getSampleSizeInBits, fmt.getFrameLength.toLong)
    }
  }

  /** Deterministic PCM16 WAV bytes: a real, spec-compliant RIFF/WAVE
    * container the JDK writer produces for a sample pattern derived
    * from `seed` — the audio analog of [[syntheticPng]] (no RNG, no
    * fixture files).
    */
  def syntheticWav(nFrames: Int, sampleRate: Int, channels: Int, seed: Long): Array[Byte] = {
    val af = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, channels, true, false)
    val data = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < data.length) { data(i) = ((seed + i * 131L) % 256).toByte; i += 1 }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), af, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio parameters derived from the doc id — the ONLY inputs to the
    * synthetic WAV, so the oracle recomputes them arithmetically while
    * Spark must round-trip through a real RIFF encode → header decode.
    */
  private def audioParamsOf(id: Long): (Int, Int, Int) =
    (8000 * (1 + (id % 3).toInt), 1 + (id % 2).toInt, 64 + (id % 128).toInt)

  /** Oracle-gated REAL audio decode round trip — same shape as
    * [[multimodalDecode]]: synthesize a WAV per document at
    * formula-derived parameters inside `mapPartitions`, recover
    * sample rate / channels / bits / frame count from the bytes via
    * [[WavHeaderDecoder]]. Only extracted metadata leaves the
    * partition; payload bytes never shuffle.
    */
  val multimodalAudioDecode: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (sr, ch, nf) = audioParamsOf(id)
          val m = WavHeaderDecoder.decode(syntheticWav(nf, sr, ch, seed = id))
          (id, m.sampleRate, m.channels, m.bitsPerSample, m.nFrames)
        }
      }
      .toDF("doc_id", "sample_rate", "audio_channels", "bits_per_sample", "n_audio_frames")
      .orderBy("doc_id")
  }

  /** Full-PCM audio statistics: decode the sample stream through the
    * JDK's `AudioInputStream` (the same public path the header decoder
    * uses, now reading the `data` chunk), interpret 16-bit little-
    * endian signed samples, and reduce to integer stats — sample
    * count, sum, min, max. The loudness/clipping/silence screen of an
    * audio-data pipeline; O(samples) per row, so it follows sampling
    * at scale like the other full-decode passes.
    */
  def pcmStats(payload: Array[Byte]): (Long, Long, Int, Int) = {
    val ais = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
    try {
      val af = ais.getFormat
      require(
        af.getSampleSizeInBits == 16 && !af.isBigEndian &&
          af.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"pcmStats reads PCM16LE signed, got $af")
      val data = ais.readAllBytes()
      var (n, sum) = (0L, 0L)
      var (mn, mx) = (Int.MaxValue, Int.MinValue)
      var i = 0
      while (i + 1 < data.length) {
        val v = ((data(i + 1) << 8) | (data(i) & 0xff)).toShort.toInt
        n += 1; sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 2
      }
      (n, sum, if (n == 0) 0 else mn, if (n == 0) 0 else mx)
    } finally ais.close()
  }

  /** Oracle-gated REAL PCM decode: synthesize a WAV per document whose
    * every data byte is a pure function of (doc_id, byte index), then
    * recover sample count / sum / min / max from the BYTES through the
    * full `AudioInputStream` read. The oracle reassembles each 16-bit
    * little-endian signed sample arithmetically from the byte formula —
    * an endianness flip, a sign error, or a skipped frame all fail.
    */
  val multimodalAudioStats: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (sr, ch, nf) = audioParamsOf(id)
          val (n, sum, mn, mx) = pcmStats(syntheticWav(nf, sr, ch, seed = id))
          (id, n, sum, mn, mx)
        }
      }
      .toDF("doc_id", "n_samples", "pcm_sum", "pcm_min", "pcm_max")
      .orderBy("doc_id")
  }

  /** Perceptual AUDIO fingerprint — the audio member of the dedup
    * ladder, built like [[dHashHalves]]: the PCM stream is cut into 32
    * equal windows by integer index arithmetic (`start_t = ⌊t·n/32⌋`),
    * each window reduced to its integer energy (Σ|sample|), and bit t
    * records whether energy rises between adjacent windows — 31 bits,
    * loudness-profile-derived, exact integer arithmetic end to end so
    * an engine-portable oracle can recompute it. Re-encoded or
    * re-containered audio with identical samples collides; dedup over
    * it is a hash equi-join, samples never shuffle.
    */
  def audioFingerprint(payload: Array[Byte]): Long = {
    val (n, _, _, _) = pcmStats(payload) // format validation lives there
    val ais = javax.sound.sampled.AudioSystem
      .getAudioInputStream(new java.io.ByteArrayInputStream(payload))
    val data =
      try ais.readAllBytes()
      finally ais.close()
    require(n >= 32, s"audioFingerprint needs at least 32 samples, got $n")
    val energy = new Array[Long](32)
    var t = 0
    while (t < 32) {
      val from = (t * n / 32).toInt
      val until = ((t + 1) * n / 32).toInt
      var e = 0L
      var j = from
      while (j < until) {
        val v = ((data(2 * j + 1) << 8) | (data(2 * j) & 0xff)).toShort.toInt
        e += math.abs(v)
        j += 1
      }
      energy(t) = e
      t += 1
    }
    var fp = 0L
    var k = 0
    while (k < 31) {
      if (energy(k + 1) > energy(k)) fp |= 1L << k
      k += 1
    }
    fp
  }

  /** Oracle-gated audio fingerprint: the oracle rebuilds every sample
    * from the byte formula, windows them with the same integer index
    * arithmetic, and reproduces all 31 comparison bits — a window
    * boundary off by one sample flips bits and fails the gate.
    */
  val multimodalAudioFingerprint: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (sr, ch, nf) = audioParamsOf(id)
          (id, audioFingerprint(syntheticWav(nf, sr, ch, seed = id)))
        }
      }
      .toDF("doc_id", "audio_fp")
      .orderBy("doc_id")
  }

  /** Decoded video metadata: everything the AVI main header carries. */
  final case class VideoMeta(width: Int, height: Int, nFrames: Int, microSecPerFrame: Int)

  /** Real video header decode by hand-walking the RIFF chunk tree (no
    * library exists for AVI in the JDK, and none is needed: the
    * container is public, trivially parseable structure — OpenDML/
    * `AVIMAINHEADER` layout). Validates the outer `RIFF`/`AVI ` tags,
    * walks top-level chunks to the `LIST('hdrl')`, then its children
    * to the 56-byte `avih` main header: width, height, total frames,
    * and the frame interval in microseconds. Only header bytes are
    * touched — `movi` frame data is skipped by chunk-size arithmetic,
    * so at 100 TB the per-row cost is O(header chunks), not O(video).
    * A fixed-offset reader would break on preceding `JUNK` chunks
    * (common in real muxers for 2 KB alignment); the walk is what
    * makes this a decoder rather than a byte-peek.
    */
  object AviHeaderDecoder extends Serializable {
    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
    private def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    def decode(payload: Array[Byte]): VideoMeta = {
      require(
        payload.length >= 12 && fourcc(payload, 0) == "RIFF" && fourcc(payload, 8) == "AVI ",
        s"not a RIFF/AVI container (${payload.length}-byte payload)")
      var off = 12
      while (off + 8 <= payload.length) {
        val sz = u32(payload, off + 4).toInt
        if (fourcc(payload, off) == "LIST" && off + 12 <= payload.length &&
          fourcc(payload, off + 8) == "hdrl") {
          var in = off + 12
          val end = math.min(off + 8 + sz, payload.length)
          while (in + 8 <= end) {
            val csz = u32(payload, in + 4).toInt
            if (fourcc(payload, in) == "avih") {
              val b = in + 8
              require(csz >= 40 && b + 40 <= payload.length, s"truncated avih chunk ($csz bytes)")
              return VideoMeta(
                width = u32(payload, b + 32).toInt,
                height = u32(payload, b + 36).toInt,
                nFrames = u32(payload, b + 16).toInt,
                microSecPerFrame = u32(payload, b).toInt)
            }
            in += 8 + csz + (csz & 1) // RIFF chunks are word-aligned
          }
        }
        off += 8 + sz + (sz & 1)
      }
      throw new IllegalArgumentException("RIFF/AVI container without an avih header chunk")
    }

    /** Frame directory of the container: (frame index, byte offset of
      * the frame DATA within the payload, frame size) for every video
      * frame chunk (`##db`/`##dc`) in the `movi` list. This is what
      * makes every-Nth-frame sampling a BYTE-RANGE operation: at
      * 100 TB, sample the directory first and decode only the sampled
      * ranges — frame data itself is never touched here (offsets come
      * from chunk-size arithmetic alone).
      */
    def frameOffsets(payload: Array[Byte]): Seq[(Int, Long, Int)] = {
      require(
        payload.length >= 12 && fourcc(payload, 0) == "RIFF" && fourcc(payload, 8) == "AVI ",
        s"not a RIFF/AVI container (${payload.length}-byte payload)")
      val out = Seq.newBuilder[(Int, Long, Int)]
      var idx = 0
      var off = 12
      while (off + 8 <= payload.length) {
        val sz = u32(payload, off + 4).toInt
        if (fourcc(payload, off) == "LIST" && off + 12 <= payload.length &&
          fourcc(payload, off + 8) == "movi") {
          var in = off + 12
          val end = math.min(off + 8 + sz, payload.length)
          while (in + 8 <= end) {
            val cid = fourcc(payload, in)
            val csz = u32(payload, in + 4).toInt
            if (cid.length == 4 && (cid.endsWith("db") || cid.endsWith("dc"))) {
              out += ((idx, (in + 8).toLong, csz))
              idx += 1
            }
            in += 8 + csz + (csz & 1)
          }
        }
        off += 8 + sz + (sz & 1)
      }
      out.result()
    }
  }

  private[ops] def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private[ops] def riffChunk(id: String, body: Array[Byte]): Array[Byte] =
    id.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++
      (if ((body.length & 1) == 1) Array(0.toByte) else Array.empty[Byte])
  private[ops] def riffList(form: String, children: Array[Byte]): Array[Byte] =
    riffChunk("LIST", form.getBytes("US-ASCII") ++ children)

  /** Deterministic AVI bytes: a spec-shaped RIFF/AVI container built
    * by hand — `JUNK` padding BEFORE the `hdrl` list (so fixed-offset
    * peeks fail), `avih` + one `vids` stream (`strh`+`strf`
    * BITMAPINFOHEADER), and a `movi` list with real seed-derived frame
    * chunks. The video analog of [[syntheticPng]]/[[syntheticWav]].
    */
  def syntheticAvi(width: Int, height: Int, nFrames: Int, microSecPerFrame: Int, seed: Long): Array[Byte] = {
    val avih = le32(microSecPerFrame.toLong) ++ le32(width.toLong * height * 4 * (1000000L / math.max(1, microSecPerFrame))) ++
      le32(0) ++ le32(0x10) ++ le32(nFrames.toLong) ++ le32(0) ++ le32(1) ++ le32(width.toLong * height * 4) ++
      le32(width.toLong) ++ le32(height.toLong) ++ Array.fill[Byte](16)(0)
    val strh = "vids".getBytes("US-ASCII") ++ "DIB ".getBytes("US-ASCII") ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(microSecPerFrame.toLong) ++ le32(1000000L) ++
      le32(0) ++ le32(nFrames.toLong) ++ le32(width.toLong * height * 4) ++ le32(0xffffffffL) ++ le32(0) ++
      le32(0) ++ le32((width & 0xffff).toLong | ((height & 0xffff).toLong << 16))
    val strf = le32(40) ++ le32(width.toLong) ++ le32(height.toLong) ++
      le32(1L | (32L << 16)) ++ le32(0) ++ le32(width.toLong * height * 4) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val junk = Array.tabulate[Byte](64)(i => ((seed + i * 37L) % 256).toByte)
    // one 24-byte frame chunk per declared frame, so avih.dwTotalFrames
    // agrees with the movi directory and frameOffsets is data-true
    val frames = (0 until nFrames)
      .map(i => riffChunk("00db", Array.tabulate[Byte](24)(j => ((seed * 13L + i * 7L + j) % 256).toByte)))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    val body = riffChunk("JUNK", junk) ++
      riffList("hdrl", riffChunk("avih", avih) ++ riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf))) ++
      riffList("movi", frames)
    "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong + 4) ++ "AVI ".getBytes("US-ASCII") ++ body
  }

  /** Video parameters derived from the doc id — the ONLY inputs to the
    * synthetic AVI, so the oracle recomputes them arithmetically while
    * Spark must round-trip through a real RIFF encode → chunk walk.
    */
  private def videoParamsOf(id: Long): (Int, Int, Int, Int) =
    (16 * (2 + (id % 6).toInt), 16 * (1 + (id % 4).toInt), 8 + (id % 24).toInt, 10000 * (1 + (id % 5).toInt))

  /** Oracle-gated REAL video header decode round trip — same shape as
    * [[multimodalDecode]]/[[multimodalAudioDecode]]: synthesize an AVI
    * per document at formula-derived parameters inside mapPartitions,
    * recover width/height/frames/frame-interval by walking the chunk
    * tree. Only extracted metadata leaves the partition.
    */
  val multimodalVideoDecode: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, nf, mspf) = videoParamsOf(id)
          val m = AviHeaderDecoder.decode(syntheticAvi(w, h, nf, mspf, seed = id))
          (id, m.width, m.height, m.nFrames, m.microSecPerFrame)
        }
      }
      .toDF("doc_id", "vid_width", "vid_height", "n_video_frames", "micro_sec_per_frame")
      .orderBy("doc_id")
  }

  /** Oracle-gated every-Nth-frame sampling as a BYTE-RANGE operation:
    * synthesize an AVI per document (frame count formula-derived),
    * walk the `movi` directory with [[AviHeaderDecoder.frameOffsets]],
    * keep every 4th frame. The container layout is deterministic, so
    * the oracle recomputes each sampled frame's data offset and size
    * arithmetically (fixed 296-byte preamble + 32 bytes per 24-byte
    * frame chunk) — an indexer that miscounts a chunk or forgets RIFF
    * word alignment lands on the wrong offsets and fails the gate.
    * This is the video scale path: sampling happens on the directory,
    * and only sampled byte ranges would ever reach a pixel decoder.
    */
  val multimodalVideoFrames: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val (w, h, nf, mspf) = videoParamsOf(id)
          val avi = syntheticAvi(w, h, nf, mspf, seed = id)
          AviHeaderDecoder
            .frameOffsets(avi)
            .iterator
            .filter(_._1 % 4 == 0)
            .map { case (idx, off, sz) => (id, idx, off, sz) }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_offset", "frame_size")
      .orderBy("doc_id", "frame_idx")
  }

  /** Oracle-gated frame CONTENT through the byte-range path: sample
    * every 4th frame via [[AviHeaderDecoder.frameOffsets]], then
    * checksum the actual bytes each (offset, size) range covers. The
    * offsets gate ([[multimodalVideoFrames]]) proves the directory
    * arithmetic; this proves the ranges land on the REAL frame data —
    * the property the 100 TB sampling path depends on (an off-by-one
    * in the walk reads garbage and the integer sum gives it away).
    */
  val multimodalVideoChecksum: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val (w, h, nf, mspf) = videoParamsOf(id)
          val avi = syntheticAvi(w, h, nf, mspf, seed = id)
          AviHeaderDecoder
            .frameOffsets(avi)
            .iterator
            .filter(_._1 % 4 == 0)
            .map { case (idx, off, sz) =>
              var sum = 0L
              var j = 0
              while (j < sz) { sum += avi(off.toInt + j) & 0xff; j += 1 }
              (id, idx, sum)
            }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_sum")
      .orderBy("doc_id", "frame_idx")
  }

  /** Magic-byte content-type sniffer as a pure Catalyst expression
    * (codegen'd `CASE WHEN` over hex prefixes — no UDF, no decode):
    * the cheap first pass a 100 TB mixed-media lake runs to route rows
    * to the right per-modality decoder. RIFF needs both the outer tag
    * (bytes 1-4) and the form type (bytes 9-12) to split WAV from AVI.
    */
  def sniffMime(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def hexAt(pos: Int, len: Int) = hex(substring(payload, pos, len))
    when(hexAt(1, 4) === "89504E47", "image/png")
      .when(hexAt(1, 3) === "FFD8FF", "image/jpeg")
      .when(hexAt(1, 4) === "47494638", "image/gif")
      .when(hexAt(1, 2) === "424D", "image/bmp")
      .when(hexAt(1, 4) === "52494646" && hexAt(9, 4) === "57415645", "audio/wav")
      .when(hexAt(1, 4) === "52494646" && hexAt(9, 4) === "41564920", "video/avi")
      .otherwise("application/octet-stream")
  }

  /** Scala-side magic sniff, row-at-a-time mirror of [[sniffMime]]
    * (the Column expression) for use inside decode seams — the spec
    * pins the two to identical answers over every payload kind, so
    * routing inside mapPartitions and routing in a projection cannot
    * drift apart.
    */
  def sniffBytes(p: Array[Byte]): String = {
    def tag(off: Int, magic: Int*): Boolean =
      p.length >= off + magic.length && magic.indices.forall(i => (p(off + i) & 0xff) == magic(i))
    if (tag(0, 0x89, 0x50, 0x4e, 0x47)) "image/png"
    else if (tag(0, 0xff, 0xd8, 0xff)) "image/jpeg"
    else if (tag(0, 0x47, 0x49, 0x46, 0x38)) "image/gif"
    else if (tag(0, 0x42, 0x4d)) "image/bmp"
    else if (tag(0, 0x52, 0x49, 0x46, 0x46) && tag(8, 0x57, 0x41, 0x56, 0x45)) "audio/wav"
    else if (tag(0, 0x52, 0x49, 0x46, 0x46) && tag(8, 0x41, 0x56, 0x49, 0x20)) "video/avi"
    else "application/octet-stream"
  }

  /** Unified per-row metadata for a MIXED media column: exactly one
    * modality's fields are populated (or none for unrecognized
    * payloads) — the schema a 100 TB ingest lands in one pass.
    */
  final case class MixedMeta(
      doc_id: Long,
      mime: String,
      img_width: Option[Int],
      img_height: Option[Int],
      sample_rate: Option[Int],
      n_audio_frames: Option[Long],
      vid_width: Option[Int],
      n_video_frames: Option[Int])

  /** The mixed-lake ingest pass: sniff each payload's container by
    * magic bytes, route to the matching HEADER decoder (image / audio
    * / video), land everything in one sparse typed schema. One
    * mapPartitions over the corpus — payload bytes never shuffle, the
    * expensive-per-modality decoders only ever see rows the sniff
    * routed to them, and unrecognized payloads pass through as
    * metadata-null rows instead of failing the job (the triage query
    * for them is a `mime = 'application/octet-stream'` filter).
    *
    * CORRUPT payloads — intact magic bytes, unreadable header (the
    * torn upload / truncated object case a lake at scale always
    * contains) — are QUARANTINED per row, never fatal: the row keeps
    * its sniffed mime with every metadata field null, so the triage
    * filter is `mime <> 'application/octet-stream' AND img_width IS
    * NULL AND sample_rate IS NULL AND vid_width IS NULL`. One bad
    * byte range must not kill a 100 TB ingest.
    */
  def decodeMixed(media: Dataset[MediaRow]): Dataset[MixedMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val mime = sniffBytes(r.payload)
        try {
          mime match {
            case m if m.startsWith("image/") =>
              val d = ImageIoDecoder.decode(r.payload)
              MixedMeta(r.doc_id, m, Some(d.width), Some(d.height), None, None, None, None)
            case "audio/wav" =>
              val a = WavHeaderDecoder.decode(r.payload)
              MixedMeta(r.doc_id, mime, None, None, Some(a.sampleRate), Some(a.nFrames), None, None)
            case "video/avi" =>
              val v = AviHeaderDecoder.decode(r.payload)
              MixedMeta(r.doc_id, mime, None, None, None, None, Some(v.width), Some(v.nFrames))
            case _ =>
              MixedMeta(r.doc_id, mime, None, None, None, None, None, None)
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            MixedMeta(r.doc_id, mime, None, None, None, None, None, None)
        }
      }
    }
  }

  /** One REAL container per doc id — modality by id mod 4, parameters
    * formula-derived, so an oracle can recompute every decoded field
    * arithmetically. Shared by the batch mixed-decode gate and the
    * streaming ingest replay (same corpus ⇒ same oracle).
    */
  def syntheticMixedPayload(id: Long): Array[Byte] = (id % 4) match {
    case 0 => val (w, h) = dimsOf(id); syntheticPng(w, h, seed = id)
    case 1 => val (sr, ch, nf) = audioParamsOf(id); syntheticWav(nf, sr, ch, seed = id)
    case 2 => val (w, h, nf, mspf) = videoParamsOf(id); syntheticAvi(w, h, nf, mspf, seed = id)
    case _ => s"plain text payload $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Oracle-gated mixed-lake pass: synthesize a REAL container per
    * document ([[syntheticMixedPayload]]), run [[decodeMixed]], and let
    * DuckDB recompute every populated field arithmetically — one gate
    * proving sniff, routing, and all three header decoders compose in
    * a single pass.
    */
  val multimodalMixedDecode: Q = (s, d) => {
    import s.implicits._
    val media = documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(ids => ids.map(id => MediaRow(id, syntheticMixedPayload(id))))
    decodeMixed(media).toDF().orderBy("doc_id")
  }

  /** Oracle-gated QUARANTINE triage: the mixed corpus with every
    * (id % 7 == 5) payload torn to its first 12 bytes — magic bytes
    * survive, headers don't, so the sniff still routes the row to its
    * decoder and the decoder throws. [[decodeMixed]] must land those
    * rows with sniffed mime + null metadata while healthy neighbors
    * in the SAME partitions decode normally; the oracle recomputes
    * which rows must be quarantined purely from the id formulas (torn
    * text payloads stay octet-stream — unrecognized, not corrupt).
    */
  val multimodalQuarantine: Q = (s, d) => {
    import s.implicits._
    val media = documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val full = syntheticMixedPayload(id)
          MediaRow(id, if (id % 7 == 5) full.take(12) else full)
        }
      }
    decodeMixed(media)
      .toDF()
      .withColumn(
        "quarantined",
        (col("mime") =!= "application/octet-stream" &&
          col("img_width").isNull && col("sample_rate").isNull && col("vid_width").isNull).cast("int"))
      .select(col("doc_id"), col("mime"), col("quarantined"))
      .orderBy("doc_id")
  }

  /** Oracle-gated sniff over a mixed-modality column: per document,
    * synthesize a REAL container (PNG / WAV / AVI / raw text by id mod
    * 4), then classify with [[sniffMime]] — the expected mime is
    * formula-derived so the oracle checks the sniffer recognized
    * genuine container bytes, not a label carried along. The WAV/AVI
    * split in particular proves the two-probe RIFF rule: both carry
    * the same outer magic and differ only in the form type.
    */
  val multimodalSniff: Q = (s, d) => {
    import s.implicits._
    documents(s, d)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val payload = (id % 4) match {
            case 0 => syntheticPng(width = 16 + (id % 8).toInt, height = 16, seed = id)
            case 1 => syntheticWav(nFrames = 64, sampleRate = 8000, channels = 1, seed = id)
            case 2 => syntheticAvi(width = 32, height = 32, nFrames = 8, microSecPerFrame = 40000, seed = id)
            case _ => s"plain text payload $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
          }
          (id, payload)
        }
      }
      .toDF("doc_id", "payload")
      .select(col("doc_id"), sniffMime(col("payload")).as("mime"))
      .orderBy("doc_id")
  }

  lazy val registry: Seq[Query] = Seq(
    Query("multimodal_meta", multimodalMeta,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5,
        |  hex(encode(substr(text, 1, 8))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("multimodal_frame_sample", multimodalFrameSample,
      s"""WITH f AS (
         |  SELECT doc_id, text,
         |         unnest(generate_series(0, CAST(ceil(length(text) / $frameChars.0) AS INT) - 1)) AS frame_idx
         |  FROM documents)
         |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |       md5(substr(text, frame_idx * $frameChars + 1, $frameChars)) AS frame_md5
         |FROM f WHERE frame_idx % $sampleEveryNth = 0
         |ORDER BY doc_id, frame_idx""".stripMargin),
    // the oracle recomputes the formula dims; Spark must recover them
    // from real PNG bytes via javax.imageio (TYPE_3BYTE_BGR -> 3
    // channels, single-frame PNG -> 1)
    Query("multimodal_decode", multimodalDecode,
      """SELECT doc_id,
        |  CAST(16 + doc_id % 32 AS INT) AS img_width,
        |  CAST(16 + doc_id % 17 AS INT) AS img_height,
        |  CAST(3 AS INT) AS channels,
        |  CAST(1 AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the oracle recomputes per-channel sums arithmetically over the
    // (x, y) grid — Spark must recover them from real PNG bytes via a
    // full AWT raster decode (pixel(x,y): r=v, g=255-v, b=(v*7)%256
    // for v=(doc_id + x*31 + y*17)%256, the syntheticPng formula)
    Query("multimodal_pixel_stats", multimodalPixelStats,
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(16 + doc_id % 32 AS BIGINT) AS w,
        |         CAST(16 + doc_id % 17 AS BIGINT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, ((doc_id + x.i * 31 + y.i * 17) % 256) AS v
        |  FROM p, UNNEST(range(0, w)) AS x(i), UNNEST(range(0, h)) AS y(i))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_pixels,
        |  CAST(sum(v) AS BIGINT) AS sum_r,
        |  CAST(sum(255 - v) AS BIGINT) AS sum_g,
        |  CAST(sum((v * 7) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the oracle recomputes the integer box-fit (24×20) from the
    // formula dims; Spark must produce a REAL resized PNG and report
    // the dimensions decoded from the OUTPUT bytes
    Query("multimodal_resize", multimodalResize,
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(16 + doc_id % 32 AS INT) AS w,
        |         CAST(16 + doc_id % 17 AS INT) AS h
        |  FROM documents)
        |SELECT doc_id, w AS in_width, h AS in_height,
        |  CAST(CASE WHEN w <= 24 AND h <= 20 THEN w
        |            WHEN w * 20 <= h * 24 THEN greatest(1, (w * 20) // h)
        |            ELSE 24 END AS INT) AS out_width,
        |  CAST(CASE WHEN w <= 24 AND h <= 20 THEN h
        |            WHEN w * 20 <= h * 24 THEN 20
        |            ELSE greatest(1, (h * 24) // w) END AS INT) AS out_height
        |FROM p ORDER BY doc_id""".stripMargin),
    // the oracle reassembles each 16-bit little-endian signed sample
    // from the byte formula b(i)=(doc_id + i*131)%256; Spark must
    // recover the stats from real RIFF/WAVE bytes through the full
    // AudioInputStream PCM read
    Query("multimodal_audio_stats", multimodalAudioStats,
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |         CAST(64 + doc_id % 128 AS BIGINT) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         ((doc_id + (2 * j.i) * 131) % 256) AS lo,
        |         ((doc_id + (2 * j.i + 1) * 131) % 256) AS hi
        |  FROM p, UNNEST(range(0, nf * ch)) AS j(i)),
        |v AS (
        |  SELECT doc_id,
        |         (CASE WHEN hi < 128 THEN hi ELSE hi - 256 END) * 256 + lo AS val
        |  FROM s)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(val) AS BIGINT) AS pcm_sum,
        |  CAST(min(val) AS INT) AS pcm_min,
        |  CAST(max(val) AS INT) AS pcm_max
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the oracle recomputes the audio formulas; Spark must recover
    // them from real RIFF/WAVE bytes via javax.sound.sampled
    Query("multimodal_audio_decode", multimodalAudioDecode,
      """SELECT doc_id,
        |  CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS INT) AS audio_channels,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST(64 + doc_id % 128 AS BIGINT) AS n_audio_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the oracle recomputes the video formulas; Spark must recover
    // them by walking a real RIFF/AVI chunk tree to the avih header
    Query("multimodal_video_decode", multimodalVideoDecode,
      """SELECT doc_id,
        |  CAST(16 * (2 + doc_id % 6) AS INT) AS vid_width,
        |  CAST(16 * (1 + doc_id % 4) AS INT) AS vid_height,
        |  CAST(8 + doc_id % 24 AS INT) AS n_video_frames,
        |  CAST(10000 * (1 + doc_id % 5) AS INT) AS micro_sec_per_frame
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the oracle recomputes sampled frame offsets from the container's
    // deterministic layout: 296-byte preamble (12 RIFF + 72 JUNK +
    // 200 hdrl + 12 movi list header), then 32 bytes per frame chunk
    // (8-byte header + 24-byte data), data 8 bytes into the chunk
    Query("multimodal_video_frames", multimodalVideoFrames,
      """SELECT doc_id,
        |  CAST(u.i AS INT) AS frame_idx,
        |  CAST(304 + 32 * u.i AS BIGINT) AS frame_offset,
        |  CAST(24 AS INT) AS frame_size
        |FROM documents, UNNEST(range(0, CAST(8 + doc_id % 24 AS BIGINT))) AS u(i)
        |WHERE u.i % 4 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin),
    // expected mime is formula-derived (id mod 4 picks the synthesized
    // container); Spark must classify genuine PNG/WAV/AVI bytes by magic
    Query("multimodal_sniff", multimodalSniff,
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'image/png'
        |    WHEN 1 THEN 'audio/wav'
        |    WHEN 2 THEN 'video/avi'
        |    ELSE 'application/octet-stream'
        |  END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin),
    // one gate over the whole mixed-lake pass: the oracle recomputes
    // each modality's populated fields and expects NULL elsewhere, so
    // a misrouted row or a wrong decoder answer both fail
    Query("multimodal_mixed_decode", multimodalMixedDecode,
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'image/png'
        |    WHEN 1 THEN 'audio/wav'
        |    WHEN 2 THEN 'video/avi'
        |    ELSE 'application/octet-stream'
        |  END AS mime,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(16 + doc_id % 32 AS INT) END AS img_width,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(16 + doc_id % 17 AS INT) END AS img_height,
        |  CASE WHEN doc_id % 4 = 1 THEN CAST(8000 * (1 + doc_id % 3) AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 4 = 1 THEN CAST(64 + doc_id % 128 AS BIGINT) END AS n_audio_frames,
        |  CASE WHEN doc_id % 4 = 2 THEN CAST(16 * (2 + doc_id % 6) AS INT) END AS vid_width,
        |  CASE WHEN doc_id % 4 = 2 THEN CAST(8 + doc_id % 24 AS INT) END AS n_video_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
    // torn payloads (id % 7 = 5, first 12 bytes) keep their magic, so
    // mime is still modality-derived; quarantined = routed-but-failed,
    // which the oracle derives from the two formulas alone (torn TEXT
    // payloads are octet-stream — unrecognized, never quarantined)
    Query("multimodal_quarantine", multimodalQuarantine,
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'image/png'
        |    WHEN 1 THEN 'audio/wav'
        |    WHEN 2 THEN 'video/avi'
        |    ELSE 'application/octet-stream'
        |  END AS mime,
        |  CAST(CASE WHEN doc_id % 7 = 5 AND doc_id % 4 <> 3 THEN 1 ELSE 0 END AS INT) AS quarantined
        |FROM documents ORDER BY doc_id""".stripMargin),
    // the oracle recomputes every 9×8 grid sample and comparison bit
    // arithmetically: gray(x,y) = (v + (255-v) + v*7%256)/3 =
    // (255 + v*7%256)//3 for v=(doc_id + x*31 + y*17)%256, sampled at
    // x_k = k*w//9, y_r = r*h//8 — Spark must recover the same bits
    // from the DECODED raster of real PNG bytes
    Query("multimodal_dhash", multimodalDhash,
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(16 + doc_id % 32 AS BIGINT) AS w,
        |         CAST(16 + doc_id % 17 AS BIGINT) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, r.i AS r, k.i AS k,
        |    CASE WHEN
        |      (255 + ((doc_id + ((k.i + 1) * w // 9) * 31 + (r.i * h // 8) * 17) % 256) * 7 % 256) // 3
        |      >
        |      (255 + ((doc_id + (k.i * w // 9) * 31 + (r.i * h // 8) * 17) % 256) * 7 % 256) // 3
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM p, UNNEST(range(0, 8)) AS r(i), UNNEST(range(0, 8)) AS k(i))
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN r < 4 THEN bit * (CAST(1 AS BIGINT) << (r * 8 + k)) ELSE 0 END) AS BIGINT) AS dhash_lo,
        |  CAST(sum(CASE WHEN r >= 4 THEN bit * (CAST(1 AS BIGINT) << ((r - 4) * 8 + k)) ELSE 0 END) AS BIGINT) AS dhash_hi
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // same hash arithmetic with every image re-synthesized from
    // doc_id % 250, then the identical self-join — content-identical
    // rasters (ids 250 apart) MUST collide, plus whatever genuine
    // fingerprint collisions the corpus carries (both engines compute
    // them identically)
    Query("multimodal_image_dups", multimodalImageDups,
      """WITH p AS (
        |  SELECT doc_id, doc_id % 250 AS sid,
        |         CAST(16 + (doc_id % 250) % 32 AS BIGINT) AS w,
        |         CAST(16 + (doc_id % 250) % 17 AS BIGINT) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, r.i AS r, k.i AS k,
        |    CASE WHEN
        |      (255 + ((sid + ((k.i + 1) * w // 9) * 31 + (r.i * h // 8) * 17) % 256) * 7 % 256) // 3
        |      >
        |      (255 + ((sid + (k.i * w // 9) * 31 + (r.i * h // 8) * 17) % 256) * 7 % 256) // 3
        |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM p, UNNEST(range(0, 8)) AS r(i), UNNEST(range(0, 8)) AS k(i)),
        |hsh AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN r < 4 THEN bit * (CAST(1 AS BIGINT) << (r * 8 + k)) ELSE 0 END) AS dhash_lo,
        |    sum(CASE WHEN r >= 4 THEN bit * (CAST(1 AS BIGINT) << ((r - 4) * 8 + k)) ELSE 0 END) AS dhash_hi
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS dup_a, b.doc_id AS dup_b
        |FROM hsh a JOIN hsh b
        |  ON a.dhash_lo = b.dhash_lo AND a.dhash_hi = b.dhash_hi AND a.doc_id < b.doc_id
        |ORDER BY dup_a, dup_b""".stripMargin),
    // the oracle rebuilds every sample from the byte formula, assigns
    // it to its window via the floor-boundary inverse w = (32j+31)//n
    // (≡ the Scala loop's from=⌊w·n/32⌋ bounds), sums |sample| per
    // window and reproduces all 31 rising-energy bits
    Query("multimodal_audio_fingerprint", multimodalAudioFingerprint,
      """WITH p AS (
        |  SELECT doc_id,
        |         CAST(1 + doc_id % 2 AS BIGINT) AS ch,
        |         CAST(64 + doc_id % 128 AS BIGINT) AS nf
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, nf * ch AS n, j.i AS j,
        |         ((doc_id + (2 * j.i) * 131) % 256) AS lo,
        |         ((doc_id + (2 * j.i + 1) * 131) % 256) AS hi
        |  FROM p, UNNEST(range(0, nf * ch)) AS j(i)),
        |e AS (
        |  SELECT doc_id, (32 * j + 31) // n AS w,
        |         abs((CASE WHEN hi < 128 THEN hi ELSE hi - 256 END) * 256 + lo) AS av
        |  FROM s),
        |en AS (SELECT doc_id, w, sum(av) AS energy FROM e GROUP BY doc_id, w),
        |b AS (
        |  SELECT a.doc_id, a.w AS k,
        |    CASE WHEN nxt.energy > a.energy THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
        |  FROM en a JOIN en nxt ON nxt.doc_id = a.doc_id AND nxt.w = a.w + 1
        |  WHERE a.w < 31)
        |SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << k)) AS BIGINT) AS audio_fp
        |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // sampled frame bytes are seed-derived — b(j)=(doc_id·13+i·7+j)%256
    // for frame i — so the oracle recomputes each sampled range's sum;
    // Spark must read the REAL bytes at the directory's offsets
    Query("multimodal_video_checksum", multimodalVideoChecksum,
      """WITH f AS (
        |  SELECT doc_id, u.i AS fi
        |  FROM documents, UNNEST(range(0, CAST(8 + doc_id % 24 AS BIGINT))) AS u(i)
        |  WHERE u.i % 4 = 0),
        |s AS (
        |  SELECT doc_id, fi, (doc_id * 13 + fi * 7 + j.i) % 256 AS bv
        |  FROM f, UNNEST(range(0, 24)) AS j(i))
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(sum(bv) AS BIGINT) AS frame_sum
        |FROM s GROUP BY doc_id, fi ORDER BY doc_id, frame_idx""".stripMargin)
  )
}
