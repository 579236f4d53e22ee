package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Multimodal-column plumbing: media as opaque `binary` payloads with
  * typed metadata, decoded/feature-extracted in batched executor-side
  * loops.
  *
  * Image payloads decode for REAL via the JDK's `javax.imageio`
  * (PNG/JPEG/GIF/BMP ship with the JVM — no external codecs): true
  * width/height plus a bounded-cost pixel-content fingerprint.
  * Payloads ImageIO can't parse (audio/video/unknown — codecs this
  * container lacks) fall back to [[decodeStub]], a deterministic fake
  * parse of the payload bytes, keeping the pipeline total. Swapping in
  * further codecs touches only the decode dispatch; everything else
  * (the `mapPartitions` batching, the output schema, the pipeline
  * wiring) stays.
  *
  * In Python the equivalent surface is a pandas UDF over
  * `mapInPandas`; the Scala-native equivalent used here is
  * `mapPartitions` over a typed Dataset with explicit micro-batches,
  * which gives the same amortize-per-batch-setup behavior (decoder
  * init once per batch, not once per row).
  */
object Multimodal {

  /** One media item: opaque payload + metadata. */
  final case class MediaItem(
      doc_id: Long,
      media_type: String,
      payload: Array[Byte],
      byte_len: Long)

  /** Extracted features (stub-decoded). */
  final case class MediaFeatures(
      doc_id: Long,
      byte_len: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      feat_hash: Long)

  /** Pack a text column as a fake media payload (UTF-8 bytes) with
    * metadata — stands in for reading real image/audio blobs. */
  def pack(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("bigint").as("doc_id"),
      lit("image/stub").as("media_type"),
      col(textCol).cast("binary").as("payload"),
      octet_length(col(textCol)).cast("bigint").as("byte_len"))

  /** Magic-byte media-type sniff for real binary payloads (the
    * JDK-decodable image formats, the header-parsed audio formats,
    * octet-stream fallthrough). */
  def sniffMediaType(payload: Array[Byte]): String = {
    def at(i: Int): Int = if (i < payload.length) payload(i) & 0xFF else -1
    if (at(0) == 0x89 && at(1) == 'P' && at(2) == 'N' && at(3) == 'G') "image/png"
    else if (at(0) == 0xFF && at(1) == 0xD8 && at(2) == 0xFF) "image/jpeg"
    else if (at(0) == 'G' && at(1) == 'I' && at(2) == 'F' && at(3) == '8') "image/gif"
    else if (at(0) == 'B' && at(1) == 'M') "image/bmp"
    else if (at(0) == 'R' && at(1) == 'I' && at(2) == 'F' && at(3) == 'F' &&
      at(8) == 'W' && at(9) == 'A' && at(10) == 'V' && at(11) == 'E') "audio/wav"
    else if (at(4) == 'f' && at(5) == 't' && at(6) == 'y' && at(7) == 'p') "video/mp4"
    else if ((at(0) == 'I' && at(1) == 'D' && at(2) == '3') ||
      (at(0) == 0xFF && (at(1) & 0xE0) == 0xE0)) "audio/mpeg"
    else "application/octet-stream"
  }

  /** Deterministic bounded-cost content fingerprint: FNV-1a over an
    * 8×8 grid sample of ARGB pixels — O(1) per image regardless of
    * resolution, so a 100-megapixel payload costs the same as a
    * thumbnail. */
  def pixelHash(im: java.awt.image.BufferedImage): Long = {
    val w = im.getWidth
    val h = im.getHeight
    val bb = java.nio.ByteBuffer.allocate(8 * 8 * 4)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        bb.putInt(im.getRGB(gx * w / 8, gy * h / 8))
        gx += 1
      }
      gy += 1
    }
    Hashing.mix64(Hashing.fnv64(bb.array()))
  }

  /** Refuse to materialize images above this pixel count: a payload
    * whose magic bytes match an image format but whose header is
    * garbage (e.g. text starting with "GIF8" or "BM") can declare a
    * bogus multi-gigapixel size and the decoder would try to allocate
    * it. Header dimensions are read FIRST (cheap, no pixel decode)
    * and checked against this bound. */
  val maxDecodePixels: Long = 64L * 1000 * 1000

  /** Real image decode via `javax.imageio` (JDK-only; PNG/JPEG/GIF/
    * BMP). None when the payload isn't a decodable image, when its
    * header declares an implausible size, or when the plugin throws
    * ANY non-fatal exception (ImageIO readers throw runtime
    * exceptions, not just IOException, on malformed input) — the
    * caller falls back to the stub so the pipeline stays total. */
  def tryDecodeImage(item: MediaItem): Option[MediaFeatures] =
    decodeImageBounded(item.payload, minSide = 1).map { im =>
      MediaFeatures(
        doc_id = item.doc_id,
        byte_len = item.byte_len,
        width = im.getWidth,
        height = im.getHeight,
        n_frames = 1,
        feat_hash = pixelHash(im))
    }

  /** The header-first bounded decode every image path must use: read
    * the DECLARED dimensions off the format header (no pixel decode),
    * reject anything under `minSide` or over [[maxDecodePixels]], and
    * only then let the plugin materialize the raster. Calling
    * `ImageIO.read` first and filtering after would allocate the full
    * raster of a decompression-bomb payload (tiny PNG, huge declared
    * size) before the cap could refuse it — an executor-OOM vector on
    * untrusted payloads. None on null/undecodable/out-of-bounds. */
  private def decodeImageBounded(
      payload: Array[Byte], minSide: Int): Option[java.awt.image.BufferedImage] =
    try {
      if (payload == null) None
      else {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val w = reader.getWidth(0)
              val h = reader.getHeight(0)
              if (w < minSide || h < minSide ||
                w <= 0 || h <= 0 || w.toLong * h > maxDecodePixels) None
              else Option(reader.read(0))
            } finally reader.dispose()
          }
        } finally if (iis != null) iis.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** STUB decoder for non-image payloads — deterministic fake parse of
    * the payload bytes. Audio/video codecs aren't in this container;
    * when they are, add a tryDecode* sibling and extend [[decode]]'s
    * dispatch — signature and batch shape are the real contract. */
  def decodeStub(item: MediaItem): MediaFeatures = {
    val h = Hashing.mix64(Hashing.fnv64(item.payload))
    MediaFeatures(
      doc_id = item.doc_id,
      byte_len = item.byte_len,
      width = 64 + (math.abs(h) % 1920).toInt,
      height = 64 + (math.abs(h >>> 11) % 1080).toInt,
      n_frames = 1 + (math.abs(h >>> 23) % 32).toInt,
      feat_hash = h)
  }

  /** Decode dispatch: real ImageIO parse first, stub fallback. */
  def decode(item: MediaItem): MediaFeatures =
    tryDecodeImage(item).getOrElse(decodeStub(item))

  /** Batched feature extraction: partitions stream through in
    * micro-batches of `batchSize` rows — the decoder-setup
    * amortization point. Parallelism = input partitions; repartition
    * upstream to size batches for executor memory (payloads are the
    * fat column — never collect them). */
  def extractFeatures(items: Dataset[MediaItem], batchSize: Int = 32): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      // per-task decoder setup: keep ImageIO off its disk-backed
      // stream cache (executor temp dirs) — decode stays in-memory
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap { batch =>
        // per-batch amortization point: heavier codecs init here once
        batch.map(decode)
      }
    }
  }

  /** End-to-end: pack + batch-decode, returning a plain DataFrame. */
  def features(spark: SparkSession, df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    extractFeatures(pack(df, idCol, textCol).as[MediaItem]).toDF()
  }

  // ------------------------------------------------------ perceptual hash

  /** Perceptual AVERAGE HASH (aHash — the public 8×8 mean-threshold
    * perceptual hash): area-average the image to an 8×8 grayscale
    * grid, set bit (gy·8+gx) iff that cell's luma exceeds the grid
    * mean. Unlike [[pixelHash]] (exact content fingerprint — any
    * pixel change flips it), aHash survives re-encoding and rescaling
    * of the same picture, so Hamming proximity between aHashes is the
    * image-modality NEAR-dup signal (pair with
    * [[graft.operators.Dedup.hammingPairs]]).
    *
    * ALL arithmetic is integer (ITU-R 601 luma `(299r+587g+114b)/1000`
    * in integer division, per-cell floor mean, grid floor mean), so
    * the hash is bit-reproducible across JVMs and replayable in SQL —
    * the same determinism discipline as every other fingerprint
    * here. */
  def aHash(im: java.awt.image.BufferedImage): Long = {
    val w = im.getWidth
    val h = im.getHeight
    require(w >= 8 && h >= 8, s"aHash needs >= 8x8 pixels, got ${w}x$h")
    val cells = new Array[Long](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8; val x1 = (gx + 1) * w / 8
        val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = im.getRGB(x, y)
            val luma = (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
              114 * (rgb & 0xFF)) / 1000
            sum += luma
            x += 1
          }
          y += 1
        }
        cells(gy * 8 + gx) = sum / ((x1 - x0).toLong * (y1 - y0))
        gx += 1
      }
      gy += 1
    }
    val mean = cells.sum / 64
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (cells(i) > mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** One image's perceptual-hash row. `ahash` is NULL-free: payloads
    * that don't decode report `decoded = false` with ahash 0 (typed
    * degradation, the house multimodal discipline). */
  final case class ImageHash(
      doc_id: Long, decoded: Boolean, width: Int, height: Int, ahash: Long)

  /** Batched perceptual hashing — same mapPartitions micro-batch
    * shape as [[extractFeatures]]; ImageIO decode + [[aHash]] per
    * payload, typed-null degradation on anything undecodable. */
  def extractImageHashes(
      items: Dataset[MediaItem], batchSize: Int = 32): Dataset[ImageHash] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.grouped(batchSize).flatMap(_.map { item =>
        // header-first bounded decode: the declared-size cap must
        // refuse a decompression bomb BEFORE the raster is allocated
        val im = decodeImageBounded(item.payload, minSide = 8)
        im match {
          case Some(i) => ImageHash(item.doc_id, decoded = true,
            i.getWidth, i.getHeight, aHash(i))
          case None => ImageHash(item.doc_id, decoded = false, 0, 0, 0L)
        }
      })
    }
  }

  /** Build a real PNG payload whose 8×8-blockwise-CONSTANT grayscale
    * content comes from `cellLuma(gx, gy)` — every pixel of block
    * (gx, gy) gets that gray level. Because the content is constant
    * per block, [[aHash]] of the decoded image equals the hash of the
    * 64 `cellLuma` values EXACTLY at any `w`×`h` multiple of 8 —
    * which is what lets the image-near-dup oracle replay the whole
    * decode→hash chain in integer SQL from the construction
    * parameters (the built-payload discipline of the audio/video
    * queries). */
  def pngBytes(w: Int, h: Int, cellLuma: (Int, Int) => Int): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0, "w and h must be multiples of 8")
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val g = cellLuma(x * 8 / w, y * 8 / h) & 0xFF
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  // ------------------------------------------------------------------- audio

  /** Parsed audio header metadata. Field applicability is per-format
    * (WAV carries exact sample counts; MP3 carries the frame bitrate
    * and a whole-payload duration estimate) — absent fields are null,
    * never faked. */
  final case class AudioFeatures(
      doc_id: Long,
      media_type: String,
      sample_rate: Option[Long],
      channels: Option[Long],
      bits_per_sample: Option[Long],
      n_samples: Option[Long],
      duration_ms: Option[Long],
      bitrate_kbps: Option[Long])

  private def u8(p: Array[Byte], i: Int): Int = p(i) & 0xFF
  private def le16(p: Array[Byte], i: Int): Int = u8(p, i) | (u8(p, i + 1) << 8)
  private def le32(p: Array[Byte], i: Int): Long =
    (u8(p, i).toLong | (u8(p, i + 1).toLong << 8) |
      (u8(p, i + 2).toLong << 16) | (u8(p, i + 3).toLong << 24)) & 0xFFFFFFFFL

  /** WAV/RIFF header parse — pure public byte-format knowledge (RIFF
    * chunk walk; `fmt ` for rate/channels/width, `data` for the
    * sample count). No codec needed: PCM metadata IS the header.
    * Integer math only (n_samples = data_size/block_align,
    * duration_ms = n_samples·1000/rate — both floor divisions), so
    * the derived fields are exactly replayable. None on anything
    * malformed — the caller falls back to the stub. */
  def tryDecodeWav(docId: Long, payload: Array[Byte]): Option[AudioFeatures] =
    try {
      if (payload == null || payload.length < 12 ||
        !(u8(payload, 0) == 'R' && u8(payload, 1) == 'I' && u8(payload, 2) == 'F' &&
          u8(payload, 3) == 'F' && u8(payload, 8) == 'W' && u8(payload, 9) == 'A' &&
          u8(payload, 10) == 'V' && u8(payload, 11) == 'E')) None
      else {
        var pos = 12
        var sr = -1L; var ch = -1; var bits = -1; var block = -1; var dataSize = -1L
        while (pos + 8 <= payload.length) {
          val id = new String(payload, pos, 4, "US-ASCII")
          val size = le32(payload, pos + 4)
          if (id == "fmt " && size >= 16 && pos + 24 <= payload.length) {
            ch = le16(payload, pos + 10)
            sr = le32(payload, pos + 12)
            block = le16(payload, pos + 20)
            bits = le16(payload, pos + 22)
          } else if (id == "data") dataSize = size
          // RIFF chunks are word-aligned: odd sizes carry a pad byte.
          // Advance in LONG arithmetic: le32 sizes are non-negative
          // 32-bit values, but truncating to Int first (e.g. a crafted
          // 0xFFFFFFF8 size) makes the increment zero or negative and
          // the walk loops forever on untrusted payloads. A chunk
          // running past the payload clamps to the end, keeping the
          // truncated-final-chunk tolerance.
          val next = pos.toLong + 8L + size + (size & 1L)
          pos = if (next > payload.length) payload.length else next.toInt
        }
        if (sr <= 0 || ch <= 0 || block <= 0 || dataSize < 0) None
        else {
          val nSamples = dataSize / block
          Some(AudioFeatures(docId, "audio/wav",
            sample_rate = Some(sr), channels = Some(ch.toLong),
            bits_per_sample = Some(bits.toLong), n_samples = Some(nSamples),
            duration_ms = Some(nSamples * 1000L / sr), bitrate_kbps = None))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** MPEG-1 Layer III bitrate table (kbps, header indices 1..14) and
    * sample-rate table — the public frame-header format. */
  private val Mp3Bitrates =
    Array(32L, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3SampleRates = Array(44100L, 48000L, 32000L)

  /** MP3 header parse: skip an ID3v2 tag (syncsafe size) if present,
    * then read the first MPEG-1 Layer III frame header — bitrate and
    * sample-rate indices, channel mode. Duration is the standard
    * whole-payload CBR estimate: bytes_after_id3 · 8 / bitrate_kbps,
    * floored — exact integer math, replayable. */
  def tryDecodeMp3(docId: Long, payload: Array[Byte]): Option[AudioFeatures] =
    try {
      if (payload == null || payload.length < 4) None
      else {
        val off =
          if (u8(payload, 0) == 'I' && u8(payload, 1) == 'D' && u8(payload, 2) == '3' &&
            payload.length >= 10) {
            val size = (u8(payload, 6) << 21) | (u8(payload, 7) << 14) |
              (u8(payload, 8) << 7) | u8(payload, 9)
            10 + size
          } else 0
        if (off + 4 > payload.length) None
        else {
          val h1 = u8(payload, off + 1)
          val h2 = u8(payload, off + 2)
          val h3 = u8(payload, off + 3)
          val version = (h1 >> 3) & 3
          val layer = (h1 >> 1) & 3
          val bIdx = (h2 >> 4) & 15
          val sIdx = (h2 >> 2) & 3
          if (u8(payload, off) != 0xFF || (h1 & 0xE0) != 0xE0 ||
            version != 3 || layer != 1 || // MPEG-1, Layer III only
            bIdx < 1 || bIdx > 14 || sIdx > 2) None
          else {
            val bitrate = Mp3Bitrates(bIdx - 1)
            val mode = (h3 >> 6) & 3 // 11 = mono, everything else 2ch
            Some(AudioFeatures(docId, "audio/mpeg",
              sample_rate = Some(Mp3SampleRates(sIdx)),
              channels = Some(if (mode == 3) 1L else 2L),
              bits_per_sample = None, n_samples = None,
              duration_ms = Some((payload.length - off).toLong * 8L / bitrate),
              bitrate_kbps = Some(bitrate)))
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio decode dispatch with the stub discipline of [[decode]]:
    * parse failures and non-audio payloads degrade to a typed null
    * row (sniffed media_type kept) instead of crashing the task. */
  def decodeAudio(item: MediaItem): AudioFeatures = {
    val sniffed = if (item.payload == null) "application/octet-stream"
      else sniffMediaType(item.payload)
    val parsed = sniffed match {
      case "audio/wav"  => tryDecodeWav(item.doc_id, item.payload)
      case "audio/mpeg" => tryDecodeMp3(item.doc_id, item.payload)
      case _            => None
    }
    parsed.getOrElse(AudioFeatures(item.doc_id, sniffed,
      None, None, None, None, None, None))
  }

  /** Batched audio metadata extraction — same mapPartitions
    * micro-batch shape as [[extractFeatures]]. */
  def extractAudio(items: Dataset[MediaItem], batchSize: Int = 32): Dataset[AudioFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.grouped(batchSize).flatMap(_.map(decodeAudio)))
  }

  /** Perceptual AUDIO fingerprint — the energy-contour sign hash
    * (the integer core of the Haitsma–Kalker/"Shazam-lite" family):
    * the PCM16 sample stream splits into 64 equal time frames (frame
    * of sample i = i·64/n, floor — the [[aHash]] cell-boundary
    * discipline), each frame's energy is the exact Σ|sample| over its
    * interleaved samples, and bit k is set iff energy(k) >
    * energy((k+1) mod 64). Comparing ADJACENT frame energies makes
    * the hash invariant under uniform volume scaling and robust to
    * re-encoding (absolute levels cancel; only the contour's updown
    * shape survives), so Hamming proximity between audio hashes is
    * the audio-modality near-dup signal — pair with
    * [[graft.operators.Dedup.hammingPairs]] exactly like image
    * aHashes and text SimHashes.
    *
    * ALL arithmetic is integer (abs, sums, floor frame boundaries,
    * strict compare), bit-reproducible and SQL-replayable. None on
    * anything that is not a parseable 16-bit PCM RIFF/WAVE with at
    * least 64 samples — the caller degrades to the typed-null row. */
  def audioHash(payload: Array[Byte]): Option[Long] =
    try {
      if (payload == null || payload.length < 12 ||
        !(u8(payload, 0) == 'R' && u8(payload, 1) == 'I' && u8(payload, 2) == 'F' &&
          u8(payload, 3) == 'F' && u8(payload, 8) == 'W' && u8(payload, 9) == 'A' &&
          u8(payload, 10) == 'V' && u8(payload, 11) == 'E')) None
      else {
        var pos = 12
        var fmtCode = -1; var bits = -1
        var dataOff = -1; var dataLen = -1
        while (pos + 8 <= payload.length) {
          val id = new String(payload, pos, 4, "US-ASCII")
          val size = le32(payload, pos + 4)
          if (id == "fmt " && size >= 16 && pos + 24 <= payload.length) {
            fmtCode = le16(payload, pos + 8)
            bits = le16(payload, pos + 22)
          } else if (id == "data") {
            dataOff = pos + 8
            dataLen = math.min(size, (payload.length - dataOff).toLong).toInt
          }
          // Long-arithmetic advance — same forward-progress guard as
          // [[tryDecodeWav]]'s walk: an Int-truncated crafted size
          // (0xFFFFFFF8) would stall the loop forever; clamping a
          // chunk that overruns the payload preserves the truncated
          // `data` tolerance the min() above encodes.
          val next = pos.toLong + 8L + size + (size & 1L)
          pos = if (next > payload.length) payload.length else next.toInt
        }
        val n = if (dataLen < 0) -1 else dataLen / 2
        if (fmtCode != 1 || bits != 16 || n < 64) None
        else {
          val energy = new Array[Long](64)
          var i = 0
          while (i < n) {
            val s = (le16(payload, dataOff + 2 * i) << 16) >> 16 // sign-extend
            energy(((i.toLong * 64) / n).toInt) += math.abs(s).toLong
            i += 1
          }
          var hash = 0L
          var k = 0
          while (k < 64) {
            if (energy(k) > energy((k + 1) & 63)) hash |= (1L << k)
            k += 1
          }
          Some(hash)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One clip's fingerprint row — `decoded = false`, hash 0 for
    * anything [[audioHash]] rejects (typed degradation, the house
    * multimodal discipline). */
  final case class AudioHash(doc_id: Long, decoded: Boolean, ahash: Long)

  /** Batched audio fingerprinting — the [[extractImageHashes]] shape
    * for the audio modality. */
  def extractAudioHashes(
      items: Dataset[MediaItem], batchSize: Int = 32): Dataset[AudioHash] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.grouped(batchSize).flatMap(_.map { item =>
      audioHash(item.payload) match {
        case Some(h) => AudioHash(item.doc_id, decoded = true, h)
        case None    => AudioHash(item.doc_id, decoded = false, 0L)
      }
    }))
  }

  /** Build a real canonical RIFF/WAVE payload (PCM): 44-byte header +
    * data truncated to whole blocks. Usable for real PCM; in the
    * catalog it materializes the deterministic header-field contract
    * the oracle replays. */
  def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
      data: Array[Byte]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && bitsPerSample % 8 == 0)
    val block = channels * bitsPerSample / 8
    val ds = data.length - data.length % block
    val bb = java.nio.ByteBuffer.allocate(44 + ds)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + ds)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * block).putShort(block.toShort)
      .putShort(bitsPerSample.toShort)
      .put("data".getBytes("US-ASCII")).putInt(ds)
      .put(data, 0, ds)
    bb.array()
  }

  /** Build an MP3-framed payload: ID3v2 tag (syncsafe `id3Pad` bytes
    * of padding), one MPEG-1 Layer III frame header, then `data` as
    * the frame body. */
  def mp3Bytes(bitrateIdx: Int, srIdx: Int, stereo: Boolean, id3Pad: Int,
      data: Array[Byte]): Array[Byte] = {
    require(bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx >= 0 && srIdx <= 2 &&
      id3Pad >= 0 && id3Pad < (1 << 28))
    val bb = java.nio.ByteBuffer.allocate(10 + id3Pad + 4 + data.length)
    bb.put("ID3".getBytes("US-ASCII")).put(3.toByte).put(0.toByte).put(0.toByte)
      .put(((id3Pad >> 21) & 0x7F).toByte).put(((id3Pad >> 14) & 0x7F).toByte)
      .put(((id3Pad >> 7) & 0x7F).toByte).put((id3Pad & 0x7F).toByte)
    bb.position(bb.position() + id3Pad) // zeroed tag padding
    bb.put(0xFF.toByte).put(0xFB.toByte) // sync + MPEG-1 + Layer III
      .put(((bitrateIdx << 4) | (srIdx << 2)).toByte)
      .put((if (stereo) 0x00 else 0xC0).toByte) // mode: stereo / mono
      .put(data)
    bb.array()
  }

  // ------------------------------------------------------------------ video

  /** Container-level MP4 metadata — what an ISO-BMFF box walk yields
    * without touching any codec: the ftyp major brand, the movie
    * header's timescale/duration (duration_ms is the floor of
    * duration·1000/timescale — integer math, exactly replayable),
    * the `trak` count, and the first track's sample-entry fourcc
    * (the codec identifier, e.g. avc1/hvc1/mp4a). Absent fields are
    * null, never faked — same discipline as [[AudioFeatures]]. */
  final case class VideoFeatures(
      doc_id: Long,
      media_type: String,
      major_brand: Option[String],
      timescale: Option[Long],
      duration_ms: Option[Long],
      n_tracks: Option[Long],
      codec: Option[String])

  private def be16(p: Array[Byte], i: Int): Int = (u8(p, i) << 8) | u8(p, i + 1)
  private def be32(p: Array[Byte], i: Int): Long =
    (u8(p, i).toLong << 24) | (u8(p, i + 1).toLong << 16) |
      (u8(p, i + 2).toLong << 8) | u8(p, i + 3).toLong
  private def be64(p: Array[Byte], i: Int): Long =
    (be32(p, i) << 32) | be32(p, i + 4)
  private def fourcc(p: Array[Byte], i: Int): String =
    new String(p, i, 4, "US-ASCII")

  /** ISO-BMFF / MP4 box-walk parse — pure public byte-format
    * knowledge (ISO 14496-12): a file is a sequence of
    * `[u32 size][4cc type]` boxes, big-endian throughout; `moov`,
    * `trak`, `mdia`, `minf`, `stbl` are pure containers whose
    * payload is again boxes. Reads `ftyp` for the major brand,
    * `mvhd` (version 0 or 1) for timescale/duration, counts `trak`
    * children of `moov`, and descends the FIRST trak's
    * stbl→stsd for its first sample entry's fourcc. size==1
    * (64-bit largesize) handled; size==0 (box-to-EOF) treated as
    * spanning the rest of the payload. None on anything malformed —
    * the caller degrades to a typed-null row, same screen semantics
    * as the WAV/MP3 parsers. */
  def tryDecodeMp4(docId: Long, payload: Array[Byte]): Option[VideoFeatures] =
    try {
      if (payload == null || payload.length < 16 ||
        fourcc(payload, 4) != "ftyp") None
      else {
        // walk the boxes of [from, until); call f(type, payloadFrom,
        // payloadUntil) for each; bail (None semantics) on bad sizes
        def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Boolean = {
          var pos = from
          var ok = true
          while (ok && pos + 8 <= until) {
            val size0 = be32(payload, pos)
            val tpe = fourcc(payload, pos + 4)
            val (headLen, size) =
              if (size0 == 1L && pos + 16 <= until) (16, be64(payload, pos + 8))
              else if (size0 == 0L) (8, (until - pos).toLong)
              else (8, size0)
            if (size < headLen || pos + size > until) ok = false
            else {
              f(tpe, pos + headLen, pos + size.toInt)
              pos += size.toInt
            }
          }
          ok
        }
        var brand: Option[String] = None
        var timescale = -1L; var duration = -1L
        var nTracks = 0L
        var codec: Option[String] = None
        var malformed = false
        def parseStsd(from: Int, until: Int): Unit =
          // version+flags(4) entry_count(4), then sample entries,
          // each itself box-shaped: [u32 size][4cc format]
          if (from + 16 <= until && be32(payload, from + 4) >= 1)
            codec = codec.orElse(Some(fourcc(payload, from + 12)))
        def parseTrak(from: Int, until: Int): Unit =
          walk(from, until) {
            case ("mdia", f, u) => walk(f, u) {
              case ("minf", f2, u2) => walk(f2, u2) {
                case ("stbl", f3, u3) => walk(f3, u3) {
                  case ("stsd", f4, u4) => parseStsd(f4, u4)
                  case _ => ()
                }
                case _ => ()
              }
              case _ => ()
            }
            case _ => ()
          }
        val okTop = walk(0, payload.length) {
          case ("ftyp", f, u) =>
            if (u - f >= 4) brand = brand.orElse(Some(fourcc(payload, f)))
          case ("moov", f, u) =>
            val okMoov = walk(f, u) {
              case ("mvhd", f2, u2) =>
                val v = u8(payload, f2)
                if (v == 0 && f2 + 20 <= u2) {
                  timescale = be32(payload, f2 + 12)
                  duration = be32(payload, f2 + 16)
                } else if (v == 1 && f2 + 32 <= u2) {
                  timescale = be32(payload, f2 + 20)
                  duration = be64(payload, f2 + 24)
                }
              case ("trak", f2, u2) =>
                nTracks += 1
                if (codec.isEmpty) parseTrak(f2, u2)
              case _ => ()
            }
            if (!okMoov) malformed = true
          case _ => ()
        }
        // duration * 1000 overflows Long for v1 64-bit durations
        // beyond ~9.2e15 ticks — untrusted input degrades to None
        // (same screen semantics as every other malformed path),
        // never to a negative/garbage duration_ms
        if (!okTop || malformed || brand.isEmpty ||
          timescale <= 0 || duration < 0 || nTracks == 0 ||
          duration > Long.MaxValue / 1000L) None
        else Some(VideoFeatures(docId, "video/mp4",
          major_brand = brand, timescale = Some(timescale),
          duration_ms = Some(duration * 1000L / timescale),
          n_tracks = Some(nTracks), codec = codec))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Video decode dispatch with the stub discipline of [[decode]]:
    * parse failures and non-video payloads degrade to a typed null
    * row (sniffed media_type kept) instead of crashing the task. */
  def decodeVideo(item: MediaItem): VideoFeatures = {
    val sniffed = if (item.payload == null) "application/octet-stream"
      else sniffMediaType(item.payload)
    val parsed = sniffed match {
      case "video/mp4" => tryDecodeMp4(item.doc_id, item.payload)
      case _           => None
    }
    parsed.getOrElse(VideoFeatures(item.doc_id, sniffed,
      None, None, None, None, None))
  }

  /** Batched video metadata extraction — same mapPartitions
    * micro-batch shape as [[extractFeatures]]/[[extractAudio]]. */
  def extractVideo(items: Dataset[MediaItem], batchSize: Int = 32): Dataset[VideoFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.grouped(batchSize).flatMap(_.map(decodeVideo)))
  }

  /** Build a real minimal ISO-BMFF/MP4 payload: `ftyp` (major brand +
    * isom compat), `moov` with a version-0 `mvhd` (given
    * timescale/duration) and one full trak→mdia→minf→stbl→stsd chain
    * per codec fourcc, then `data` as the `mdat` body. When
    * `sampleSizes` is non-empty, the FIRST trak's `stbl` also carries
    * a per-sample `stsz` sample-size table (version 0, sample_size 0,
    * one u32 per sample — ISO 14496-12 §8.7.3.2), which is what
    * [[videoHash]] fingerprints. Every box size is exact, so the
    * payload round-trips through [[tryDecodeMp4]]; in the catalog it
    * materializes the deterministic header-field contract the oracle
    * replays. */
  def mp4Bytes(majorBrand: String, timescale: Int, duration: Long,
      codecs: Seq[String], data: Array[Byte],
      sampleSizes: Seq[Int] = Nil): Array[Byte] = {
    require(majorBrand.length == 4 && codecs.nonEmpty &&
      codecs.forall(_.length == 4) && timescale > 0 &&
      duration >= 0 && duration <= 0xFFFFFFFFL &&
      sampleSizes.forall(_ >= 0))
    def box(tpe: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(tpe.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val ftyp = box("ftyp",
      java.nio.ByteBuffer.allocate(12)
        .put(majorBrand.getBytes("US-ASCII")).putInt(0)
        .put("isom".getBytes("US-ASCII")).array())
    val mvhd = box("mvhd", {
      val bb = java.nio.ByteBuffer.allocate(100)
      bb.putInt(0) // version 0 + flags
        .putInt(0).putInt(0) // creation, modification
        .putInt(timescale).putInt(duration.toInt)
        .putInt(0x00010000).putShort(0x0100.toShort) // rate 1.0, volume 1.0
      bb.position(bb.position() + 10 + 36 + 24) // reserved, matrix, predefined
      bb.putInt(codecs.length + 1) // next_track_id
      bb.array()
    })
    val traks = codecs.zipWithIndex.map { case (cc, ti) =>
      // minimal sample entry: 6 reserved bytes + u16 data_reference_index
      val entry = box(cc, new Array[Byte](8))
      val stsd = box("stsd",
        java.nio.ByteBuffer.allocate(8 + entry.length)
          .putInt(0).putInt(1).put(entry).array())
      val stbl =
        if (ti > 0 || sampleSizes.isEmpty) stsd
        else {
          val bb = java.nio.ByteBuffer.allocate(12 + 4 * sampleSizes.length)
          bb.putInt(0) // version + flags
            .putInt(0) // sample_size 0 = per-sample table follows
            .putInt(sampleSizes.length)
          sampleSizes.foreach(bb.putInt)
          stsd ++ box("stsz", bb.array())
        }
      box("trak", box("mdia", box("minf", box("stbl", stbl))))
    }
    val moov = box("moov", (mvhd +: traks).reduce(_ ++ _))
    val mdat = box("mdat", data)
    ftyp ++ moov ++ mdat
  }

  /** 64-bit VIDEO fingerprint from the container's per-sample size
    * table — the codec-independent integer core of stream-structure
    * fingerprinting: the first trak's `stsz` sample sizes (one coded
    * frame each — the I/P/B size rhythm of the encode) split into 64
    * equal frames-of-the-contour (bucket of sample i = i·64/n, floor,
    * the [[audioHash]] discipline), each bucket's value is the exact
    * Σ of its sample sizes, and bit k is set iff bucket(k) >
    * bucket((k+1) mod 64). Adjacent-bucket comparison cancels uniform
    * bitrate scaling (a re-encode at 3× the rate scales every coded
    * size ~uniformly, so the contour survives) and remuxing never
    * touches sample sizes at all — Hamming proximity between video
    * hashes is the video-modality near-dup signal; pair with
    * [[graft.operators.Dedup.hammingPairs]] exactly like image
    * aHashes, audio contours, and text SimHashes.
    *
    * ALL arithmetic is integer, bit-reproducible and SQL-replayable.
    * None unless the payload is a well-formed MP4 whose first trak
    * carries a PER-SAMPLE `stsz` table (sample_size field 0) with at
    * least 64 entries: a fixed-size table (sample_size ≠ 0) has a
    * flat contour — zero information, degrade rather than hash
    * everything uniform into one bucket. */
  def videoHash(payload: Array[Byte]): Option[Long] =
    try {
      if (payload == null || payload.length < 16 ||
        fourcc(payload, 4) != "ftyp") None
      else {
        var sizesOff = -1
        var nSamples = -1
        def walk(from: Int, until: Int)(f: (String, Int, Int) => Unit): Boolean = {
          var pos = from
          var ok = true
          while (ok && pos + 8 <= until) {
            val size0 = be32(payload, pos)
            val tpe = fourcc(payload, pos + 4)
            val (headLen, size) =
              if (size0 == 1L && pos + 16 <= until) (16, be64(payload, pos + 8))
              else if (size0 == 0L) (8, (until - pos).toLong)
              else (8, size0)
            if (size < headLen || pos + size > until) ok = false
            else {
              f(tpe, pos + headLen, pos + size.toInt)
              pos += size.toInt
            }
          }
          ok
        }
        def parseStsz(from: Int, until: Int): Unit =
          // version+flags(4) sample_size(4) sample_count(4) entries
          if (sizesOff < 0 && from + 12 <= until &&
            be32(payload, from + 4) == 0L) {
            val cnt = be32(payload, from + 8)
            if (cnt >= 64 && from + 12 + 4 * cnt <= until) {
              sizesOff = from + 12
              nSamples = cnt.toInt
            }
          }
        var seenTrak = false
        val okTop = walk(0, payload.length) {
          case ("moov", f, u) => walk(f, u) {
            case ("trak", f2, u2) if !seenTrak =>
              seenTrak = true
              walk(f2, u2) {
                case ("mdia", f3, u3) => walk(f3, u3) {
                  case ("minf", f4, u4) => walk(f4, u4) {
                    case ("stbl", f5, u5) => walk(f5, u5) {
                      case ("stsz", f6, u6) => parseStsz(f6, u6)
                      case _ => ()
                    }
                    case _ => ()
                  }
                  case _ => ()
                }
                case _ => ()
              }
            case _ => ()
          }
          case _ => ()
        }
        if (!okTop || sizesOff < 0) None
        else {
          val bucket = new Array[Long](64)
          var i = 0
          while (i < nSamples) {
            bucket(((i.toLong * 64) / nSamples).toInt) += be32(payload, sizesOff + 4 * i)
            i += 1
          }
          var hash = 0L
          var k = 0
          while (k < 64) {
            if (bucket(k) > bucket((k + 1) & 63)) hash |= (1L << k)
            k += 1
          }
          Some(hash)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One clip's fingerprint row — `decoded = false`, hash 0 for
    * anything [[videoHash]] rejects (typed degradation, the house
    * multimodal discipline). */
  final case class VideoHash(doc_id: Long, decoded: Boolean, vhash: Long)

  /** Batched video fingerprinting — the [[extractAudioHashes]] shape
    * for the video modality. */
  def extractVideoHashes(
      items: Dataset[MediaItem], batchSize: Int = 32): Dataset[VideoHash] = {
    import items.sparkSession.implicits._
    items.mapPartitions(_.grouped(batchSize).flatMap(_.map { item =>
      videoHash(item.payload) match {
        case Some(h) => VideoHash(item.doc_id, decoded = true, h)
        case None    => VideoHash(item.doc_id, decoded = false, 0L)
      }
    }))
  }
}
