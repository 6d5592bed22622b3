package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Embedder

/** Multimodal (image/audio/video) columns: opaque `binary` payloads with
  * typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages, mirroring the reference's multimodal embedding inputs
  * (/root/reference/vechord/embedding.py:208-369: text|image-bytes|
  * image-url) re-expressed for batch Spark.
  *
  * The Spark-side plumbing — schema, partition-preserving mapPartitions
  * batch shape, stage signatures — is real and tested. The actual codec
  * work is STUBBED behind [[FakeCodec]] (no image/audio libraries ship in
  * this container): every stub is deterministic on the input bytes, so
  * pipelines built on these stages are testable end-to-end and the codec
  * swap is a one-class change.
  */
final case class MediaMeta(format: String, width: Int, height: Int,
                           channels: Int, durationMs: Long)
final case class MediaRow(id: Long, kind: String, data: Array[Byte],
                          meta: MediaMeta)
final case class MediaFeatures(id: Long, kind: String,
                               features: Array[Float])

/** The codec seat. [[ImageIoCodec]] is the REAL image half (JDK
  * `javax.imageio`, zero new dependencies); [[FakeCodec]] remains the
  * deterministic stand-in for audio/video kinds and for tests that gate
  * the stage plumbing rather than the codec: "pixels" are the raw
  * bytes, features are a 64-bin byte histogram (L1-normalized), resize
  * truncates/repeats deterministically, frame-sample slices the payload
  * at fixed strides. `meta` carries source dimensions into resize. */
trait MediaCodec extends Serializable {
  def decode(data: Array[Byte], meta: MediaMeta): Array[Byte]
  def features(pixels: Array[Byte]): Array[Float]
  def resize(pixels: Array[Byte], meta: MediaMeta, w: Int, h: Int): Array[Byte]
  def frames(data: Array[Byte], meta: MediaMeta, everyMs: Long): Seq[Array[Byte]]
}

final case class FakeCodec() extends MediaCodec {
  def decode(data: Array[Byte], meta: MediaMeta): Array[Byte] = data
  def features(pixels: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](64)
    pixels.foreach(b => hist((b & 0xFF) / 4) += 1f)
    val n = math.max(1, pixels.length).toFloat
    hist.map(_ / n)
  }
  def resize(pixels: Array[Byte], meta: MediaMeta,
             w: Int, h: Int): Array[Byte] = {
    val target = math.max(1, w * h)
    Array.tabulate(target)(i => pixels(i % math.max(1, pixels.length)))
  }
  def frames(data: Array[Byte], meta: MediaMeta,
             everyMs: Long): Seq[Array[Byte]] = {
    val n = math.max(1, (meta.durationMs / math.max(1, everyMs)).toInt)
    val step = math.max(1, data.length / n)
    (0 until n).map(i => data.slice(i * step,
      math.min(data.length, (i + 1) * step)))
  }
}

/** Real image decode on the JDK's bundled `javax.imageio` readers
  * (PNG / JPEG / GIF / BMP — zero external dependencies), closing the
  * reference's real-image-bytes input path
  * (/root/reference/vechord/embedding.py:208-369):
  *
  *  - `decode` → one LUMINANCE byte per pixel, row-major. Grayscale
  *    images pass their sample through untouched (the 299/587/114
  *    integer weights sum to 1000, so r=g=b=v maps back to exactly v
  *    — lossless for gray PNGs, which makes full-value DuckDB oracles
  *    possible); color images get the same integer ITU-R 601 luma.
  *  - `features` → the same 64-bin L1-normalized histogram contract as
  *    [[FakeCodec]], now over real pixels.
  *  - `resize` → deterministic nearest-neighbor (src = floor(dst ·
  *    src/dst) per axis): reproducible in plain integer arithmetic by
  *    any engine, unlike platform-variant interpolation.
  *  - `frames` → REAL for MJPEG-in-AVI payloads (RIFF walked by
  *    [[MjpegAvi]], sampled frames are standalone JPEGs for this same
  *    reader); other containers delegate to [[FakeCodec]] — the
  *    remaining stub surface, since inter-frame codecs (H.264 etc.)
  *    have no JDK decoder.
  */
final case class ImageIoCodec() extends MediaCodec {
  private val fake = FakeCodec()
  // ImageIO defaults to a DISK-backed stream cache: every read/write
  // of an in-memory payload creates and deletes a temp FILE. Executor
  // tasks decode thousands of byte-array payloads — memory-cache them.
  // Output bytes are identical; this is a JDK I/O-strategy flag only.
  javax.imageio.ImageIO.setUseCache(false)

  def decode(data: Array[Byte], meta: MediaMeta): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(data))
    require(img != null, "payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Byte](w * h)
    val raster = img.getRaster
    if (raster.getNumBands == 1) {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(y * w + x) = raster.getSample(x, y, 0).toByte
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xFF
          val g = (rgb >> 8) & 0xFF
          val b = rgb & 0xFF
          out(y * w + x) = ((r * 299 + g * 587 + b * 114) / 1000).toByte
          x += 1
        }
        y += 1
      }
    }
    out
  }

  def features(pixels: Array[Byte]): Array[Float] = fake.features(pixels)

  def resize(pixels: Array[Byte], meta: MediaMeta,
             w: Int, h: Int): Array[Byte] = {
    val (sw, sh) = (meta.width, meta.height)
    require(sw > 0 && sh > 0 && pixels.length >= sw * sh,
      s"resize needs source dims in meta (got ${sw}x$sh for " +
        s"${pixels.length} pixels)")
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val sy = y * sh / h
      var x = 0
      while (x < w) {
        out(y * w + x) = pixels(sy * sw + x * sw / w)
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL video frame extraction for MJPEG-in-AVI — the one video
    * format decodable with zero external dependencies: the RIFF
    * container is walked here ([[MjpegAvi]]) and every sampled frame
    * is a standalone JPEG payload that the SAME `javax.imageio` reader
    * as [[decode]] consumes downstream. Sampling keeps one frame per
    * `everyMs` of stream time from the container's own frame rate
    * (`avih.dwMicroSecPerFrame`) — the video twin of [[WavCodec]]'s
    * rate-based clip slicing. Non-AVI payloads keep the [[FakeCodec]]
    * stub behavior (the remaining stub surface: inter-frame codecs
    * need a real decoder). */
  def frames(data: Array[Byte], meta: MediaMeta,
             everyMs: Long): Seq[Array[Byte]] =
    if (MjpegAvi.isAvi(data)) MjpegAvi.sampleFrames(data, everyMs)
    else fake.frames(data, meta, everyMs)
}

/** Minimal RIFF/AVI walker for motion-JPEG streams: finds
  * `avih.dwMicroSecPerFrame` in the `hdrl` list and collects every
  * `..dc` (compressed video) chunk under `movi` (including `rec `
  * groups) in stream order. Little-endian sizes, even-byte chunk
  * padding, malformed sizes bail out with whatever parsed cleanly. */
object MjpegAvi {
  def isAvi(data: Array[Byte]): Boolean =
    data.length >= 12 &&
      data(0) == 'R' && data(1) == 'I' && data(2) == 'F' &&
      data(3) == 'F' &&
      data(8) == 'A' && data(9) == 'V' && data(10) == 'I' &&
      data(11) == ' '

  private def u32(d: Array[Byte], o: Int): Long =
    (d(o) & 0xFFL) | ((d(o + 1) & 0xFFL) << 8) |
      ((d(o + 2) & 0xFFL) << 16) | ((d(o + 3) & 0xFFL) << 24)

  private def fourcc(d: Array[Byte], o: Int): String =
    new String(d, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** (microseconds per frame, frames in stream order). */
  def parse(data: Array[Byte]): (Long, Vector[Array[Byte]]) = {
    var usPerFrame = 0L
    val frames = Vector.newBuilder[Array[Byte]]
    // depth-bounded: real AVIs nest 2-3 LIST levels (hdrl/strl,
    // movi/rec ); a hostile payload of thousands of nested LIST
    // headers must bail out, not overflow the JVM stack
    def walk(start: Int, end: Int, depth: Int): Unit = {
      if (depth > 16) return
      var o = start
      var ok = true
      while (ok && o + 8 <= end) {
        val id = fourcc(data, o)
        val sz = u32(data, o + 4)
        val body = o + 8
        if (sz < 0 || sz > Int.MaxValue - body) ok = false
        else {
          val bodyEnd = math.min(end.toLong, body + sz).toInt
          if (id == "LIST" && sz >= 4) walk(body + 4, bodyEnd, depth + 1)
          else if (id == "avih" && sz >= 4) usPerFrame = u32(data, body)
          else if (id.endsWith("dc") && sz > 0)
            frames += java.util.Arrays.copyOfRange(data, body, bodyEnd)
          o = bodyEnd + ((sz & 1L).toInt) // chunks pad to even sizes
        }
      }
    }
    walk(12, data.length, 0)
    (if (usPerFrame > 0) usPerFrame else 33333L, frames.result())
  }

  /** One frame kept per `everyMs` of stream time (index stride from
    * the container's frame rate, always including frame 0). */
  def sampleFrames(data: Array[Byte], everyMs: Long): Seq[Array[Byte]] = {
    val (usPerFrame, all) = parse(data)
    val per = math.max(1L, math.round(everyMs * 1000.0 / usPerFrame)).toInt
    all.zipWithIndex.collect { case (f, i) if i % per == 0 => f }
  }

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  /** Assemble an MJPEG AVI from JPEG frame payloads — the fixture /
    * ingest builder twin of [[parse]] (same role as
    * [[ImageIoCodec.grayPng]] and [[WavCodec.pcmWav]]): RIFF(`AVI `)
    * containing `LIST hdrl [avih]` and `LIST movi [00dc…]`, with only
    * the fields the reader contract defines populated. */
  def mjpegAvi(frames: Seq[Array[Byte]], usPerFrame: Long): Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + body.length +
          (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(id.getBytes(Ascii)).putInt(body.length).put(body)
      bb.array()
    }
    def list(typ: String, bodies: Seq[Array[Byte]]): Array[Byte] =
      chunk("LIST", typ.getBytes(Ascii) ++ bodies.flatten)
    val avih = java.nio.ByteBuffer.allocate(56)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(usPerFrame.toInt) // dwMicroSecPerFrame
    val hdrl = list("hdrl", Seq(chunk("avih", avih.array())))
    val movi = list("movi", frames.map(f => chunk("00dc", f)))
    val payload = "AVI ".getBytes(Ascii) ++ hdrl ++ movi
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes(Ascii)).putInt(payload.length).put(payload)
    bb.array()
  }
}

/** Real audio decode on the JDK's bundled `javax.sound.sampled` WAV /
  * AIFF / AU readers (zero external dependencies) — the audio twin of
  * [[ImageIoCodec]], closing the audio half of the codec seat (video
  * remains the one documented stub: the JDK ships no video codec).
  *
  *  - `decode` → one UNSIGNED byte per sample frame, row-major in time:
  *    channels are averaged (integer mean), 16-bit PCM keeps its high
  *    byte recentred to unsigned, 8-bit unsigned PCM passes through
  *    UNTOUCHED — so [[WavCodec.pcmWav]] fixtures round-trip exactly,
  *    which makes full-value DuckDB oracles possible (same trick as
  *    [[ImageIoCodec]]'s gray PNGs).
  *  - `features` → the shared 64-bin L1-normalized histogram contract,
  *    now over real PCM samples.
  *  - `frames` → REAL time-based clip slicing: the WAV header's actual
  *    sample rate converts `everyMs` into samples-per-clip
  *    (`max(1, rate·everyMs/1000)`); clips partition the decoded
  *    samples exactly (last clip short), so total bytes are preserved.
  *  - `resize` → delegates to [[FakeCodec]]: no spatial dims in audio.
  */
final case class WavCodec() extends MediaCodec {
  import javax.sound.sampled.AudioFormat

  private val fake = FakeCodec()

  def decode(data: Array[Byte], meta: MediaMeta): Array[Byte] = {
    val in = WavCodec.audioInputStream(data)
    try decodeStream(in) finally in.close()
  }

  private def decodeStream(
      in: javax.sound.sampled.AudioInputStream): Array[Byte] = {
    {
      val fmt = in.getFormat
      require(fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED ||
          fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED,
        s"unsupported encoding ${fmt.getEncoding}")
      val raw = in.readAllBytes()
      val ch = fmt.getChannels
      val bytesPer = fmt.getSampleSizeInBits / 8
      val frameSize = fmt.getFrameSize
      val unsigned = fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED
      val n = raw.length / frameSize
      val out = new Array[Byte](n)
      var i = 0
      while (i < n) {
        var acc = 0
        var c = 0
        while (c < ch) {
          val off = i * frameSize + c * bytesPer
          val hi = if (bytesPer == 1 || fmt.isBigEndian) off
                   else off + bytesPer - 1
          val v = if (unsigned) raw(hi) & 0xFF else (raw(hi) + 128) & 0xFF
          acc += v
          c += 1
        }
        out(i) = (acc / ch).toByte
        i += 1
      }
      out
    }
  }

  def features(pixels: Array[Byte]): Array[Float] = fake.features(pixels)

  def resize(pixels: Array[Byte], meta: MediaMeta,
             w: Int, h: Int): Array[Byte] =
    fake.resize(pixels, meta, w, h) // audio has no spatial dims

  def frames(data: Array[Byte], meta: MediaMeta,
             everyMs: Long): Seq[Array[Byte]] = {
    // one header parse + decode per payload
    val in = WavCodec.audioInputStream(data)
    val (rate, samples) =
      try (in.getFormat.getSampleRate, decodeStream(in))
      finally in.close()
    val per = math.max(1, (rate * everyMs / 1000.0).toInt)
    samples.grouped(per).toSeq
  }
}

object WavCodec {
  // SPI providers resolved ONCE: AudioSystem.getAudioInputStream /
  // AudioSystem.write go through a class-synchronized provider
  // registry on every call — thousands of per-row encodes/decodes
  // across 32 executor threads serialize on that monitor. Iterating
  // the same ServiceLoader providers from an immutable list is the
  // exact AudioSystem algorithm (first provider that accepts wins)
  // without the shared lock; decoded/encoded bytes are identical.
  private val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    b.result()
  }
  private val audioWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** The JDK's MIDI-backed reader probes through MidiSystem's
    * class-SYNCHRONIZED provider registry (the AudioSystem monitor
    * pathology this object exists to avoid, re-entering through the
    * MIDI side door) — and it sits BEFORE the WAVE readers in
    * ServiceLoader order, so every WAV decode paid that global
    * monitor once per row (measured: the 32-thread probe ran 3×
    * SLOWER than single-threaded). Its acceptance condition is
    * exactly the 4-byte standard-MIDI magic ("MThd" — anything else
    * makes MidiSystem throw InvalidMidiDataException, which it
    * rethrows as UnsupportedAudioFileException), so skipping it for
    * non-MThd payloads is behavior-identical for EVERY input and
    * keeps first-accepting-provider order intact.
    *
    * SPI assumption: the MThd-only acceptance holds because this
    * reader parses through MidiSystem's `MidiFileReader` providers, and
    * the only one assumed installed is the stock JDK
    * `StandardMidiFileReader`, which accepts MThd payloads only. A
    * third-party `javax.sound.midi.spi.MidiFileReader` on the classpath
    * that accepted other payloads would be bypassed by this skip, and
    * decoding of those inputs would change. */
  private def acceptsOnlyMThd(r: javax.sound.sampled.spi.AudioFileReader) =
    r.getClass.getName == "com.sun.media.sound.SoftMidiAudioFileReader"
  private def hasMThdMagic(data: Array[Byte]): Boolean =
    data.length >= 4 && data(0) == 'M' && data(1) == 'T' &&
      data(2) == 'h' && data(3) == 'd'

  private[graft] def audioInputStream(
      data: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val readers = audioReaders.iterator
    while (readers.hasNext) {
      val r = readers.next()
      if (!(acceptsOnlyMThd(r) && !hasMThdMagic(data))) {
        try return r.getAudioInputStream(
          new java.io.ByteArrayInputStream(data))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException => ()
        }
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** Encode samples as a mono 8-bit unsigned PCM WAV at `rate` Hz
    * (lossless: [[WavCodec.decode]] returns exactly these bytes back) —
    * the fixture generator for tests/gates, and the write half of the
    * audio path. */
  def pcmWav(samples: Array[Byte], rate: Float): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat,
      AudioInputStream}
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED, rate,
      8, 1, 1, rate, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(samples), fmt,
      samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    try {
      val w = audioWriters
        .find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE, ais))
        .getOrElse(throw new IllegalArgumentException(
          "could not write WAVE audio: no provider"))
      w.write(ais, AudioFileFormat.Type.WAVE, bos)
    } finally ais.close()
    bos.toByteArray
  }
}

object ImageIoCodec {
  // the same disk-cache opt-out for the encode half (JVM-global flag,
  // idempotent — set in both the reader class and here so either
  // entry point alone flips it)
  javax.imageio.ImageIO.setUseCache(false)

  /** Encode one-byte-per-pixel grayscale pixels as a PNG (lossless:
    * [[ImageIoCodec.decode]] returns exactly these bytes back) — the
    * fixture generator for tests/gates, and the write half of the
    * image path. */
  def grayPng(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(pixels.length == w * h, s"need $w*$h pixels")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, pixels(y * w + x) & 0xFF)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}

object Multimodal {

  val mediaSchema = Encoders.product[MediaRow].schema

  /** Decode + feature-extract, batch-wise per partition (the Scala twin
    * of a pandas-batch UDF: one codec instance per partition, rows
    * streamed through it — no per-row setup cost, no shuffle). */
  def extractFeatures(media: Dataset[MediaRow],
                      codec: MediaCodec): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { it =>
      it.map { m =>
        val px = codec.decode(m.data, m.meta)
        MediaFeatures(m.id, m.kind, codec.features(px))
      }
    }
  }

  /** Perceptual average-hash (aHash) signatures over image payloads:
    * decode, nearest-neighbor resize to `w`×`h` (≤ 64 pixels), then
    * bit i = 1 iff pixel_i is strictly above the tile mean — packed
    * little-endian into one long, in the (id, simhash) shape
    * [[graft.ops.Dedup.simHashPairs]] consumes, so near-duplicate
    * IMAGE detection rides the exact banded-Hamming join the text
    * side already has. The mean test is exact integer math
    * (n·pixel > Σ pixels — no float mean), so any engine replays
    * the bits from the pixel values alone.
    *
    * Scale shape: map-only per-partition codec batches (one decode +
    * resize per row), then whatever the banded join costs —
    * signatures are 8 bytes/image at rest. */
  def perceptualHash(media: Dataset[MediaRow], codec: MediaCodec,
                     w: Int = 8, h: Int = 8): DataFrame = {
    require(w > 0 && h > 0 && w * h <= 64,
      s"aHash packs w*h pixels into one long (got ${w}x$h)")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val px = codec.resize(codec.decode(m.data, m.meta), m.meta, w, h)
        val n = px.length
        var sum = 0L
        var i = 0
        while (i < n) { sum += (px(i) & 0xFF); i += 1 }
        var sig = 0L
        i = 0
        while (i < n) {
          if ((px(i) & 0xFF).toLong * n > sum) sig |= (1L << i)
          i += 1
        }
        (m.id, sig)
      }
    }.toDF("id", "simhash")
  }

  /** Audio energy fingerprints — the AUDIO twin of [[perceptualHash]]
    * (and the third member of the near-dup family after text SimHash
    * and image aHash): decode to PCM, split the sample stream into
    * `windows` contiguous time windows (sample j → window
    * j·windows / n, integer division — unequal tail windows are fine
    * because the test is mean-vs-mean), bit i = 1 iff window i's MEAN
    * energy is strictly above the clip's mean, cross-multiplied to
    * stay in integers (sum_i · n > total · count_i — no float mean,
    * so any engine replays the bits from the sample values alone),
    * packed into one long in the (id, simhash) shape
    * [[graft.ops.Dedup.simHashPairs]] consumes: near-duplicate AUDIO
    * detection rides the exact banded-Hamming join everything else
    * uses. Robust to small local edits (one sample moves one window
    * mean, not the whole signature) — the property the m07 gate pins
    * with its perturbed planted copy.
    *
    * Scale shape: map-only per-partition decode + one fixed-size
    * accumulator pass per clip; signatures are 8 bytes/clip at rest;
    * the join is the banded one, never all-pairs. */
  def audioFingerprint(media: Dataset[MediaRow], codec: MediaCodec,
                       windows: Int = 64): DataFrame = {
    require(windows > 0 && windows <= 64,
      s"audioFingerprint packs windows bits into one long (got $windows)")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val px = codec.decode(m.data, m.meta)
        val n = px.length
        val ws = new Array[Long](windows)
        val cnt = new Array[Long](windows)
        var tot = 0L
        var j = 0
        while (j < n) {
          val w = ((j.toLong * windows) / n).toInt
          val v = (px(j) & 0xFF).toLong
          ws(w) += v; cnt(w) += 1; tot += v; j += 1
        }
        var sig = 0L
        var i = 0
        while (i < windows) {
          if (ws(i) * n > tot * cnt(i)) sig |= (1L << i)
          i += 1
        }
        (m.id, sig)
      }
    }.toDF("id", "simhash")
  }

  /** Resize stage: image rows get `w`×`h` payloads, meta updated. */
  def resizeImages(media: Dataset[MediaRow], codec: MediaCodec,
                   w: Int, h: Int): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions { it =>
      it.map { m =>
        if (m.kind == "image")
          m.copy(data = codec.resize(codec.decode(m.data, m.meta),
              m.meta, w, h),
            meta = m.meta.copy(width = w, height = h))
        else m
      }
    }
  }

  /** Frame sampling: one output row per sampled video frame (kind
    * becomes "image") or audio clip (kind stays "audio"); other rows
    * pass through. Output ids are `id·1000 + frameIdx` — the id-space
    * contract caps a source row at 1000 frames/clips (pick a coarser
    * `everyMs` for longer media); over-cap rows fail LOUDLY here
    * rather than silently colliding into the next id's space. */
  def sampleFrames(media: Dataset[MediaRow], codec: MediaCodec,
                   everyMs: Long): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions { it =>
      it.flatMap { m =>
        if (m.kind != "video" && m.kind != "audio") Iterator.single(m)
        else codec.frames(m.data, m.meta, everyMs).iterator.zipWithIndex
          .map { case (f, i) =>
            require(i < 1000, s"row ${m.id}: more than 1000 frames at " +
              s"everyMs=$everyMs — coarsen the sampling interval")
            MediaRow(m.id * 1000 + i,
              if (m.kind == "video") "image" else "audio", f,
              m.meta.copy(format = "frame", durationMs = 0))
          }
      }
    }
  }

  /** Multimodal embedding: bytes → feature histogram → padded/truncated
    * to the embedder's dim and L2-normalized. The
    * `SUPPORT_MULTI_MODAL` gate twin (embedding.py:46-59) is the kind
    * check. */
  def embedMedia(spark: SparkSession, media: Dataset[MediaRow],
                 codec: MediaCodec, dim: Int): DataFrame = {
    implicit val enc = Encoders.product[MediaFeatures]
    extractFeatures(media, codec).toDF()
      .withColumn("vec", {
        val padded = concat(col("features"),
          array_repeat(lit(0f), lit(dim)))
        val sliced = slice(padded, 1, dim)
        val norm = sqrt(aggregate(sliced, lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double")))
        transform(sliced, x =>
          when(norm > 0, (x.cast("double") / norm).cast("float"))
            .otherwise(lit(0f)))
      })
      .select("id", "kind", "vec")
  }
}

/** Multimodal embedder gate — text side delegates to any [[Embedder]],
  * media side goes through the codec histogram path. */
final case class MultimodalEmbedder(text: Embedder, codec: MediaCodec)
  extends Serializable {
  val supportsMultiModal = true
  def dim: Int = text.dim
  def embedText(s: String): Array[Float] = text.embedChunk(s)
  def embedImage(data: Array[Byte]): Array[Float] = {
    val f = codec.features(codec.decode(data,
      MediaMeta("raw", 0, 0, 0, 0)))
    val out = new Array[Float](dim)
    var i = 0
    var n2 = 0.0
    while (i < dim) {
      out(i) = if (i < f.length) f(i) else 0f
      n2 += out(i) * out(i)
      i += 1
    }
    val n = math.sqrt(n2)
    if (n > 0) out.map(x => (x / n).toFloat) else out
  }
}
