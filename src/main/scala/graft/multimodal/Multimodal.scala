package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for training-data pipelines.
  *
  * Contract: image/audio/video payloads are opaque `binary` columns with
  * a typed metadata struct alongside. The Spark-side machinery — schema,
  * partition sizing, batch iteration via mapPartitions, deterministic
  * output shape — is real and tested. IMAGES decode for real via the
  * JDK's `javax.imageio` ([[ImageCodec]]: PNG/JPEG/GIF/BMP header +
  * pixel decode, luminance features, resize), as do animated GIFs
  * ([[VideoCodec]]), WAV/AIFF/AU audio ([[AudioCodec]]), mp4 container
  * metadata + the keyframe byte-range index ([[Mp4Meta]]), and webm
  * container metadata ([[WebmMeta]]). TRUE-video FRAME PIXELS
  * (H.264/VP9 — no JDK codec exists) are delegated to an external
  * decoder through the per-partition pipe seam
  * ([[sampleKeyframesPipe]]); payloads with no real path left fall to
  * [[StubCodec]], clearly marked, with a deterministic fake so tests
  * and downstream operators have stable inputs.
  *
  * Scale notes: payloads never shuffle unless the caller asks for it;
  * decode/feature steps are mapPartitions (no per-row task overhead,
  * amortized codec init per partition — the same shape Python pipelines
  * get from mapInPandas). Target partition sizing for 100 TB of blobs is
  * controlled by `spark.sql.files.maxPartitionBytes` at read time.
  */
object Multimodal {

  /** Typed metadata rows produced by decode. */
  final case class MediaMeta(id: Long, n_bytes: Int, width: Int, height: Int,
                             n_frames: Int, format: String)

  final case class MediaFeature(id: Long, dim: Int, feature: Array[Float])

  /** One keyframe byte range of a video payload (see [[Mp4Meta.keyframes]]). */
  final case class VideoKeyframe(id: Long, sample: Int, offset: Long, n_bytes: Long)

  /** Real JDK-only image codec (`javax.imageio` — PNG/JPEG/GIF/BMP ship
    * with the JDK, no external library). Payloads whose magic bytes mark
    * them as images get REAL header + pixel decode; everything else
    * (audio/video — no JDK codec exists) falls through to [[StubCodec]]
    * unchanged, flagged by `format`.
    */
  object ImageCodec {
    // ImageIO defaults to a DISK-backed stream cache: every decode of an
    // in-memory payload would write a temp file (per-image I/O + tmpdir
    // contention across executor threads). Payloads here are always
    // byte arrays, so the memory path is strictly better. Object-init
    // side effect = once per JVM, before any reader is created.
    javax.imageio.ImageIO.setUseCache(false)

    /** Magic-byte sniff (PNG \x89PNG, JPEG FFD8FF, GIF8, BMP "BM"). */
    def sniffFormat(p: Array[Byte]): Option[String] =
      if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G')
        Some("png")
      else if (p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff)
        Some("jpeg")
      else if (p.length >= 4 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8')
        Some("gif")
      else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') Some("bmp")
      else None

    private def readImage(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
      catch { case _: Exception => None }

    /** Real dims for decodable images; stub otherwise (a payload that
      * merely *starts* like an image but fails decode also stubs, so
      * synthetic test payloads can never flip behavior).
      */
    def decodeMeta(id: Long, payload: Array[Byte]): MediaMeta =
      sniffFormat(payload).flatMap { fmt =>
        readImage(payload).map(img =>
          MediaMeta(id, payload.length, img.getWidth, img.getHeight, 1, fmt))
      }.getOrElse(StubCodec.decodeMeta(id, payload))

    /** Real pixel feature for images: L1-normalized luminance histogram
      * over `dim` bins (deterministic — integer luma, fixed bin edges).
      */
    def extractFeature(id: Long, payload: Array[Byte], dim: Int): MediaFeature =
      sniffFormat(payload).flatMap(_ => readImage(payload)).map { img =>
        val hist = new Array[Float](dim)
        val (w, h) = (img.getWidth, img.getHeight)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(luma * dim / 256) += 1f
            x += 1
          }
          y += 1
        }
        val total = math.max(1f, (w * h).toFloat)
        var j = 0
        while (j < dim) { hist(j) /= total; j += 1 }
        MediaFeature(id, dim, hist)
      }.getOrElse(StubCodec.extractFeature(id, payload, dim))

    /** Real resize: area-averaging scale, re-encoded as PNG bytes.
      * Returns None for non-image payloads (caller keeps the original).
      */
    def resize(payload: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
      sniffFormat(payload).flatMap(_ => readImage(payload)).map { img =>
        val scaled = img.getScaledInstance(w, h, java.awt.Image.SCALE_AREA_AVERAGING)
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(scaled, 0, 0, null) finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        bos.toByteArray
      }

    /** 64-bit average-hash (aHash) perceptual fingerprint, integer-exact
      * so the DuckDB oracle can replay it bit-for-bit: each pixel maps to
      * an 8×8 grid cell `(x·8/w, y·8/h)`, cell value = floor(lumaSum /
      * pixelCount), grid mean = floor(sum(cells) / 64), bit `i = gy·8+gx`
      * set iff `cell_i > mean`. Near-identical images (crops of the same
      * scan, re-encodes, tiny edits) land within a few bits of Hamming
      * distance — the standard image-near-dup signal.
      *
      * Single-band (grayscale) images read raster samples directly:
      * `getRGB` on TYPE_BYTE_GRAY colorspace-converts gray→sRGB
      * non-linearly, which would silently break the integer luma
      * contract.
      */
    def aHash64(img: java.awt.image.BufferedImage): Long = {
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](64)
      val cnts = new Array[Long](64)
      val gray = img.getRaster.getNumBands == 1
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val luma =
            if (gray) img.getRaster.getSample(x, y, 0)
            else {
              val rgb = img.getRGB(x, y)
              ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
            }
          val c = (y * 8 / h) * 8 + (x * 8 / w)
          sums(c) += luma
          cnts(c) += 1
          x += 1
        }
        y += 1
      }
      val cells = Array.tabulate(64)(i => if (cnts(i) == 0) 0L else sums(i) / cnts(i))
      val mean = cells.sum / 64
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (cells(i) > mean) hash |= 1L << i
        i += 1
      }
      hash
    }

    /** aHash of a decodable image payload; None for non-images (callers
      * drop those rows rather than hashing garbage).
      */
    def perceptualHash(payload: Array[Byte]): Option[Long] =
      sniffFormat(payload).flatMap(_ => readImage(payload)).map(aHash64)
  }

  /** Real JDK-only audio codec (`javax.sound.sampled` — WAV/AIFF/AU PCM
    * ship with the JDK, no external library). Payloads whose magic bytes
    * mark them as audio get REAL header + sample decode; everything else
    * falls through to [[StubCodec]], flagged by `format`.
    *
    * [[MediaMeta]] field mapping for audio (documented, schema-stable):
    * `width` = sample rate in Hz, `height` = channel count,
    * `n_frames` = sample-frame count.
    */
  object AudioCodec {
    /** Magic-byte sniff (WAV "RIFF….WAVE", AIFF "FORM….AIFF", AU ".snd"). */
    def sniffFormat(p: Array[Byte]): Option[String] =
      if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') Some("wav")
      else if (p.length >= 12 && p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M' &&
        p(8) == 'A' && p(9) == 'I' && p(10) == 'F') Some("aiff")
      else if (p.length >= 4 && p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd')
        Some("au")
      else None

    private def open(p: Array[Byte]): Option[javax.sound.sampled.AudioInputStream] =
      try Some(javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(p)))
      catch { case _: Exception => None }

    /** Real header decode: sample rate / channels / frame count. */
    def decodeMeta(id: Long, payload: Array[Byte]): MediaMeta =
      sniffFormat(payload).flatMap { fmt =>
        open(payload).map { in =>
          val f = in.getFormat
          val frames = in.getFrameLength
          try in.close() catch { case _: Exception => () }
          MediaMeta(id, payload.length, width = f.getSampleRate.toInt,
            height = f.getChannels, n_frames = math.max(frames, 0L).toInt,
            format = fmt)
        }
      }.getOrElse(StubCodec.decodeMeta(id, payload))

    /** Real sample feature: L1-normalized amplitude histogram over `dim`
      * bins of the 16-bit PCM magnitude range (deterministic — integer
      * sample values, fixed bin edges; mirrors the image luminance
      * histogram so downstream ANN consumes one shape).
      */
    def extractFeature(id: Long, payload: Array[Byte], dim: Int): MediaFeature =
      sniffFormat(payload).flatMap(_ => open(payload)).flatMap { raw =>
        try {
          val target = new javax.sound.sampled.AudioFormat(
            raw.getFormat.getSampleRate, 16, raw.getFormat.getChannels,
            true /* signed */, false /* little-endian */)
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(target, raw)
          val hist = new Array[Float](dim)
          val buf = new Array[Byte](8192)
          var total = 0L
          var n = in.read(buf)
          while (n > 0) {
            var i = 0
            while (i + 1 < n) {
              val s = ((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort.toInt
              val mag = math.min(math.abs(s), 32767)
              hist(mag * dim / 32768) += 1f
              total += 1
              i += 2
            }
            n = in.read(buf)
          }
          try in.close() catch { case _: Exception => () }
          var j = 0
          val t = math.max(1f, total.toFloat)
          while (j < dim) { hist(j) /= t; j += 1 }
          Some(MediaFeature(id, dim, hist))
        } catch { case _: Exception => None }
      }.getOrElse(StubCodec.extractFeature(id, payload, dim))

    /** 64-bit amplitude fingerprint, integer-exact for the oracle
      * replay (the audio analogue of [[ImageCodec.aHash64]]): samples
      * map to 64 time windows (`t·64/n`), window value = floor(sum of
      * |16-bit amplitude| / count), overall mean = floor(sum / 64),
      * bit `i` set iff `window_i > mean`. Re-encodes, small level
      * edits, and watermarks land within a few bits; unrelated audio
      * ~32 bits apart — the near-dup signal for audio corpora. None
      * for non-audio or empty payloads (no stub hash — fake
      * fingerprints would fabricate duplicate clusters).
      */
    /** Direct RIFF chunk walk for the dominant case — plain PCM16LE
      * WAV: locate `fmt ` (PCM, 16-bit) and `data`, return the sample
      * byte range. ~10× cheaper than an `AudioSystem` stream per
      * payload (SPI probing + stream stack dominate at 200µs/payload
      * over 50k-payload scans); anything unexpected returns None and
      * falls back to the full javax.sound path. Same bytes either way.
      */
    private def pcm16Range(p: Array[Byte]): Option[(Int, Int)] = {
      def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
      def le32(o: Int): Long = (le16(o) & 0xffffL) | ((le16(o + 2) & 0xffffL) << 16)
      if (p.length < 44) return None
      var pos = 12 // past RIFF header
      var fmtOk = false
      var data: Option[(Int, Int)] = None
      while (pos + 8 <= p.length && (data.isEmpty || !fmtOk)) {
        val id = new String(p, pos, 4, "ISO-8859-1")
        val size = le32(pos + 4).toInt
        if (size < 0 || pos + 8 + size > p.length) return None
        if (id == "fmt " && size >= 16)
          fmtOk = le16(pos + 8) == 1 && le16(pos + 8 + 14) == 16
        else if (id == "data") data = Some((pos + 8, size))
        pos += 8 + size + (size & 1) // chunks pad to even
      }
      if (fmtOk) data else None
    }

    def fingerprint64(payload: Array[Byte]): Option[Long] = {
      if (sniffFormat(payload).contains("wav")) {
        pcm16Range(payload).foreach { case (off, len) =>
          val total = len / 2
          if (total == 0) return None
          val sums = new Array[Long](64)
          val cnts = new Array[Long](64)
          var t = 0
          while (t < total) {
            val s = ((payload(off + 2 * t) & 0xff) |
              (payload(off + 2 * t + 1) << 8)).toShort.toInt
            val w = (t.toLong * 64 / total).toInt
            sums(w) += math.min(math.abs(s), 32767)
            cnts(w) += 1
            t += 1
          }
          return Some(foldWindows(sums, cnts))
        }
      }
      fingerprint64ViaSound(payload)
    }

    private def foldWindows(sums: Array[Long], cnts: Array[Long]): Long = {
      val wins = Array.tabulate(64)(i => if (cnts(i) == 0) 0L else sums(i) / cnts(i))
      val mean = wins.sum / 64
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (wins(i) > mean) hash |= 1L << i
        i += 1
      }
      hash
    }

    private[multimodal] def fingerprint64ViaSound(payload: Array[Byte]): Option[Long] =
      sniffFormat(payload).flatMap(_ => open(payload)).flatMap { raw =>
        try {
          val fmt = raw.getFormat
          // skip the converter stream when the source is already
          // PCM16LE (the dominant WAV case): the conversion SPI adds
          // per-payload provider probing + a second buffered stream,
          // ~2× the decode cost for a byte-identical result
          val in =
            if (fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
              fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian) raw
            else javax.sound.sampled.AudioSystem.getAudioInputStream(
              new javax.sound.sampled.AudioFormat(fmt.getSampleRate, 16,
                fmt.getChannels, true /* signed */, false /* little-endian */), raw)
          // primitive byte sink, then one indexed pass — a generic
          // Int buffer here boxes every sample (50k payloads × 1k
          // samples = GC-bound, measured ~3× the whole decode cost)
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n > 0) {
            bos.write(buf, 0, n)
            n = in.read(buf)
          }
          try in.close() catch { case _: Exception => () }
          val data = bos.toByteArray
          val total = data.length / 2
          if (total == 0) None
          else {
            val sums = new Array[Long](64)
            val cnts = new Array[Long](64)
            var t = 0
            while (t < total) {
              val s = ((data(2 * t) & 0xff) | (data(2 * t + 1) << 8)).toShort.toInt
              val w = (t.toLong * 64 / total).toInt
              sums(w) += math.min(math.abs(s), 32767)
              cnts(w) += 1
              t += 1
            }
            Some(foldWindows(sums, cnts))
          }
        } catch { case _: Exception => None }
      }
  }

  /** Real JDK-only multi-frame codec: animated GIF is the one
    * frame-sequence format `javax.imageio` decodes natively, so
    * animated payloads get REAL per-frame decode — frame count from the
    * reader, dims from frame 0, per-frame luminance features averaged,
    * and a frame extractor that re-encodes sampled frames as PNG.
    * Single-frame GIFs route through [[ImageCodec]]; true video
    * containers (mp4/webm — no JDK codec) still fall to [[StubCodec]].
    *
    * Caveat (documented, not hidden): frames are read as the reader
    * yields them; GIFs using partial-frame disposal composite smaller
    * rasters, which this codec treats as standalone frames.
    */
  object VideoCodec {
    private def withReader[A](p: Array[Byte])
        (f: javax.imageio.ImageReader => A): Option[A] =
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(p))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) { iis.close(); None }
        else {
          val r = readers.next()
          r.setInput(iis)
          try Some(f(r))
          finally { r.dispose(); iis.close() }
        }
      } catch { case _: Exception => None }

    def frameCount(p: Array[Byte]): Int =
      if (!ImageCodec.sniffFormat(p).contains("gif")) 0
      else withReader(p)(_.getNumImages(true)).getOrElse(0)

    def isAnimated(p: Array[Byte]): Boolean = frameCount(p) > 1

    def decodeMeta(id: Long, payload: Array[Byte]): MediaMeta =
      withReader(payload) { r =>
        val n = r.getNumImages(true)
        MediaMeta(id, payload.length, r.getWidth(0), r.getHeight(0),
          n_frames = n, format = "gif-anim")
      }.getOrElse(StubCodec.decodeMeta(id, payload))

    /** Every `stride`-th frame, re-encoded as PNG bytes — the real
      * frame-sample step behind [[frameSamplePlan]]'s index math.
      */
    def sampleFrames(payload: Array[Byte], stride: Int): Seq[(Int, Array[Byte])] =
      withReader(payload) { r =>
        val n = r.getNumImages(true)
        (0 until n by stride).map { i =>
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(r.read(i), "png", bos)
          i -> bos.toByteArray
        }
      }.getOrElse(Seq.empty)

    /** Mean of the sampled frames' luminance histograms (same bins as
      * [[ImageCodec.extractFeature]] so downstream ANN sees one shape).
      */
    def extractFeature(id: Long, payload: Array[Byte], dim: Int,
                       stride: Int = 1): MediaFeature = {
      val frames = sampleFrames(payload, stride)
      if (frames.isEmpty) StubCodec.extractFeature(id, payload, dim)
      else {
        val acc = new Array[Float](dim)
        frames.foreach { case (_, png) =>
          val f = ImageCodec.extractFeature(id, png, dim).feature
          var j = 0
          while (j < dim) { acc(j) += f(j); j += 1 }
        }
        var j = 0
        while (j < dim) { acc(j) /= frames.size.toFloat; j += 1 }
        MediaFeature(id, dim, acc)
      }
    }
  }

  /** Real ISO-BMFF (mp4/mov/m4v) CONTAINER metadata — pure byte-walk of
    * the box tree, no codec library: the video track's tkhd dimensions
    * (16.16 fixed point) and its stsz sample count (= frame count).
    * This makes `decodeMeta` REAL for mp4 at the metadata level; frame
    * PIXEL decode genuinely needs an external codec and still falls to
    * [[StubCodec]] (as does webm/EBML).
    */
  object Mp4Meta {

    private def be32(p: Array[Byte], o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)

    private def be64(p: Array[Byte], o: Int): Long =
      (be32(p, o) << 32) | be32(p, o + 4)

    def isMp4(p: Array[Byte]): Boolean =
      p.length >= 12 && p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p'

    private val containers = Set("moov", "trak", "mdia", "minf", "stbl", "mvex")

    /** Depth-first box walk over [from, to); visit(type, bodyFrom, boxEnd). */
    private def walk(p: Array[Byte], from: Long, to: Long,
                     visit: (String, Long, Long) => Unit): Unit = {
      var off = from
      var ok = true
      while (ok && off + 8 <= to) {
        var size = be32(p, off.toInt)
        val typ = new String(p, off.toInt + 4, 4, "ISO-8859-1")
        var hdr = 8L
        if (size == 1 && off + 16 <= to) { size = be64(p, off.toInt + 8); hdr = 16 }
        else if (size == 0) size = to - off
        if (size < hdr || off + size > to) ok = false
        else {
          visit(typ, off + hdr, off + size)
          if (containers(typ)) walk(p, off + hdr, off + size, visit)
          off += size
        }
      }
    }

    def decodeMeta(id: Long, p: Array[Byte]): Option[MediaMeta] = {
      if (!isMp4(p)) return None
      // collect the direct trak ranges, then parse each trak's
      // hdlr/tkhd/stsz so dimensions and frame count come from the
      // VIDEO track, not an audio track's sample count
      val traks = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      walk(p, 0, p.length.toLong, (t, b, e) => if (t == "trak") traks += ((b, e)))
      var best: Option[(Int, Int, Int)] = None
      traks.foreach { case (tb, te) =>
        var isVideo = false
        var w = 0; var h = 0; var frames = 0
        walk(p, tb, te, { (t, b, _) =>
          val o = b.toInt
          t match {
            case "hdlr" if p.length >= o + 12 =>
              isVideo = isVideo ||
                new String(p, o + 8, 4, "ISO-8859-1") == "vide"
            case "tkhd" =>
              val v = p(o) & 0xff
              val wOff = o + (if (v == 1) 88 else 76)
              if (p.length >= wOff + 8) {
                w = (be32(p, wOff) >> 16).toInt      // 16.16 fixed
                h = (be32(p, wOff + 4) >> 16).toInt
              }
            case "stsz" if p.length >= o + 12 =>
              frames = be32(p, o + 8).toInt          // sample_count
            case _ => ()
          }
        })
        if (isVideo && best.isEmpty) best = Some((w, h, frames))
      }
      best.map { case (w, h, n) =>
        MediaMeta(id, p.length, w, h, n_frames = n, format = "mp4")
      }
    }

    /** One keyframe's byte range inside the container file. */
    final case class KeyframeRange(sample: Int, offset: Long, nBytes: Long)

    /** The keyframe → byte-range index of the first VIDEO track: a walk
      * of the sample tables — stss (sync samples; absent = every sample
      * is sync, per ISO 14496-12 §8.6.2), stsz (sizes), stsc
      * (sample→chunk runs), stco/co64 (chunk offsets). This is the part
      * of "decode video at 100 TB" that belongs INSIDE the engine: the
      * index tells an external decoder (via the pipe seam,
      * [[Multimodal.sampleKeyframesPipe]]) exactly which byte slices to
      * fetch, so frame sampling never decodes — or even ships — the
      * stream between keyframes. Malformed tables yield an empty index
      * (fuzz-safe), never a throw.
      */
    def keyframes(p: Array[Byte]): Seq[KeyframeRange] =
      try keyframesUnsafe(p)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }

    private final case class TrakTables(isVideo: Boolean, trackId: Long,
      stsz: Long, stszEnd: Long, stsc: Long, stscEnd: Long,
      stco: Long, stcoEnd: Long, co64: Long, co64End: Long,
      stss: Long, stssEnd: Long)

    private def keyframesUnsafe(p: Array[Byte]): Seq[KeyframeRange] = {
      if (!isMp4(p)) return Seq.empty
      val traks = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      walk(p, 0, p.length.toLong, (t, b, e) => if (t == "trak") traks += ((b, e)))
      val tables = traks.iterator.map { case (tb, te) =>
        var isVideo = false
        var trackId = -1L
        var stsz = -1L; var stsc = -1L; var stco = -1L; var co64 = -1L; var stss = -1L
        var stszEnd = 0L; var stscEnd = 0L; var stcoEnd = 0L; var co64End = 0L; var stssEnd = 0L
        walk(p, tb, te, { (t, b, e) =>
          t match {
            case "hdlr" if p.length >= b + 12 =>
              isVideo = isVideo || new String(p, b.toInt + 8, 4, "ISO-8859-1") == "vide"
            case "tkhd" =>
              // track_ID: body offset 12 (v0: creation+modification are
              // 4 bytes each) or 20 (v1: 8 bytes each)
              val idOff = b + (if ((p(b.toInt) & 0xff) == 1) 20 else 12)
              if (p.length >= idOff + 4) trackId = be32(p, idOff.toInt)
            case "stsz" => stsz = b; stszEnd = e
            case "stsc" => stsc = b; stscEnd = e
            case "stco" => stco = b; stcoEnd = e
            case "co64" => co64 = b; co64End = e
            case "stss" => stss = b; stssEnd = e
            case _ => ()
          }
        })
        TrakTables(isVideo, trackId, stsz, stszEnd, stsc, stscEnd,
          stco, stcoEnd, co64, co64End, stss, stssEnd)
      }.toSeq

      val video = tables.find(t =>
        t.isVideo && t.stsz >= 0 && t.stsc >= 0 && (t.stco >= 0 || t.co64 >= 0))
      val (progressive, progressiveCount) =
        video.map(progressiveKeyframes(p, _)).getOrElse((Seq.empty[KeyframeRange], 0))

      // fragmented (streaming-origin) mp4: sync samples live in per-
      // fragment trun flags, not stss — continue numbering after the
      // moov-described samples (zero for a pure fMP4's empty stbl)
      val videoId = tables.find(_.isVideo).map(_.trackId).getOrElse(-1L)
      progressive ++ fragmentKeyframes(p, videoId, progressiveCount)
    }

    /** The progressive (moov/stbl) walk: lay samples into chunks via
      * stsc runs + stco/co64 offsets, mark keyframes from stss (absent
      * = every sample sync, ISO 14496-12 §8.6.2). Returns the ranges
      * AND the described sample count so fragment samples number after.
      */
    private def progressiveKeyframes(p: Array[Byte], t: TrakTables): (Seq[KeyframeRange], Int) = {
      // stsz: version/flags, sample_size (0 = per-sample table), count
      val constSize = be32(p, t.stsz.toInt + 4)
      val n = be32(p, t.stsz.toInt + 8).toInt
      require(n >= 0 && (constSize != 0 || t.stsz + 12 + 4L * n <= t.stszEnd), "stsz truncated")
      def sizeOf(i: Int): Long =
        if (constSize != 0) constSize else be32(p, (t.stsz + 12 + 4L * i).toInt)

      // stsc runs: (first_chunk, samples_per_chunk, sdi) — zero runs is
      // legal for an empty (fragmented-init) stbl
      val nRuns = be32(p, t.stsc.toInt + 4).toInt
      require(nRuns >= 0 && t.stsc + 8 + 12L * nRuns <= t.stscEnd, "stsc truncated")
      def runFirstChunk(r: Int): Long = be32(p, (t.stsc + 8 + 12L * r).toInt)
      def runPerChunk(r: Int): Long = be32(p, (t.stsc + 8 + 12L * r + 4).toInt)

      // chunk offsets (stco 32-bit / co64 64-bit)
      val useCo64 = t.stco < 0
      val coBody = if (useCo64) t.co64 else t.stco
      val coEnd = if (useCo64) t.co64End else t.stcoEnd
      val nChunks = be32(p, coBody.toInt + 4).toInt
      val width = if (useCo64) 8L else 4L
      require(nChunks >= 0 && coBody + 8 + width * nChunks <= coEnd, "stco truncated")
      def chunkOffset(c: Int): Long =
        if (useCo64) be64(p, (coBody + 8 + 8L * c).toInt)
        else be32(p, (coBody + 8 + 4L * c).toInt)

      // lay samples into chunks in order, accumulating intra-chunk
      // offsets — O(n), no per-sample table lookups beyond stsz
      val offsets = new Array[Long](n)
      var sample = 0
      var run = 0
      var chunk = 1
      while (chunk <= nChunks && sample < n && nRuns > 0) {
        while (run + 1 < nRuns && runFirstChunk(run + 1) <= chunk) run += 1
        val perChunk = runPerChunk(run)
        var within = 0L
        var off = chunkOffset(chunk - 1)
        while (within < perChunk && sample < n) {
          offsets(sample) = off
          off += sizeOf(sample)
          sample += 1
          within += 1
        }
        chunk += 1
      }

      // sync table (1-based sample numbers); absent = all sync
      val sync: Seq[Int] =
        if (t.stss < 0) (1 to sample)
        else {
          val k = be32(p, t.stss.toInt + 4).toInt
          require(k >= 0 && t.stss + 8 + 4L * k <= t.stssEnd, "stss truncated")
          (0 until k).map(i => be32(p, (t.stss + 8 + 4L * i).toInt).toInt)
        }
      (sync.filter(s => s >= 1 && s <= sample)
        .map(s => KeyframeRange(s, offsets(s - 1), sizeOf(s - 1))), sample)
    }

    // tfhd flag bits (ISO 14496-12 §8.8.7)
    private val TfBaseDataOffset = 0x1L
    private val TfSampleDescIdx = 0x2L
    private val TfDefaultDuration = 0x8L
    private val TfDefaultSize = 0x10L
    private val TfDefaultFlags = 0x20L
    // trun flag bits (§8.8.8)
    private val TrDataOffset = 0x1L
    private val TrFirstFlags = 0x4L
    private val TrDuration = 0x100L
    private val TrSize = 0x200L
    private val TrFlags = 0x400L
    private val TrCts = 0x800L

    /** Fragmented-mp4 keyframes: walk top-level moof boxes; in each, the
      * video track's traf contributes one range per SYNC sample of its
      * trun runs (sync = `sample_is_non_sync_sample` bit 16 clear in
      * the effective sample flags: per-sample → first-sample-flags →
      * tfhd default → trex default, §8.8.8). Offsets resolve from tfhd
      * base_data_offset when present, else the moof start (both the
      * default-base-is-moof flag and the first-traf default); runs
      * without a data offset continue after the previous run.
      */
    private def fragmentKeyframes(p: Array[Byte], videoTrack: Long,
                                  startSample: Int): Seq[KeyframeRange] = {
      if (videoTrack < 0) return Seq.empty
      // trex defaults for the video track (moov/mvex/trex)
      var trexSize = -1L
      var trexFlags = -1L
      walk(p, 0, p.length.toLong, { (t, b, e) =>
        if (t == "trex" && e >= b + 24 && be32(p, b.toInt + 4) == videoTrack) {
          trexSize = be32(p, b.toInt + 16)
          trexFlags = be32(p, b.toInt + 20)
        }
      })

      val out = scala.collection.mutable.ArrayBuffer[KeyframeRange]()
      var sampleNo = startSample

      def processTraf(moofStart: Long, from: Long, to: Long): Unit = {
        var trackId = -1L
        var baseOff = moofStart
        var defSize = trexSize
        var defFlags = trexFlags
        val truns = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        // direct children of traf: iterate manually for tfhd + ordered truns
        var off = from
        while (off + 8 <= to) {
          var size = be32(p, off.toInt)
          val typ = new String(p, off.toInt + 4, 4, "ISO-8859-1")
          var hdr = 8L
          if (size == 1 && off + 16 <= to) { size = be64(p, off.toInt + 8); hdr = 16 }
          else if (size == 0) size = to - off
          require(size >= hdr && off + size <= to, "traf child truncated")
          val b = off + hdr
          typ match {
            case "tfhd" =>
              val flags = be32(p, b.toInt) & 0xffffffL
              trackId = be32(p, b.toInt + 4)
              var o = b + 8
              if ((flags & TfBaseDataOffset) != 0) { baseOff = be64(p, o.toInt); o += 8 }
              if ((flags & TfSampleDescIdx) != 0) o += 4
              if ((flags & TfDefaultDuration) != 0) o += 4
              if ((flags & TfDefaultSize) != 0) { defSize = be32(p, o.toInt); o += 4 }
              if ((flags & TfDefaultFlags) != 0) { defFlags = be32(p, o.toInt); o += 4 }
            case "trun" => truns += ((b, off + size))
            case _ => ()
          }
          off += size
        }
        if (trackId != videoTrack) return
        var cursor = -1L // data position after the previous run
        truns.foreach { case (b, e) =>
          val flags = be32(p, b.toInt) & 0xffffffL
          val cnt = be32(p, b.toInt + 4).toInt
          require(cnt >= 0, "trun count")
          var o = b + 8
          var pos =
            if ((flags & TrDataOffset) != 0) {
              val v = be32(p, o.toInt).toInt // signed 32
              o += 4
              baseOff + v
            } else if (cursor >= 0) cursor
            else baseOff
          val firstFlags =
            if ((flags & TrFirstFlags) != 0) { val v = be32(p, o.toInt); o += 4; v }
            else -1L
          var i = 0
          while (i < cnt) {
            if ((flags & TrDuration) != 0) o += 4
            val size =
              if ((flags & TrSize) != 0) { val v = be32(p, o.toInt); o += 4; v }
              else defSize
            require(size >= 0, "fragment sample size unresolvable (no trun/tfhd/trex size)")
            val sFlags =
              if ((flags & TrFlags) != 0) { val v = be32(p, o.toInt); o += 4; v }
              else if (i == 0 && firstFlags >= 0) firstFlags
              else if (defFlags >= 0) defFlags
              else 0L // unknown everywhere: treat as sync (mirrors absent-stss)
            if ((flags & TrCts) != 0) o += 4
            require(o <= e, "trun truncated")
            sampleNo += 1
            if (((sFlags >> 16) & 1L) == 0L) out += KeyframeRange(sampleNo, pos, size)
            pos += size
            i += 1
          }
          cursor = pos
        }
      }

      // top-level scan for moof boxes (manual: we need the box START for
      // the default base, and walk() only hands out body offsets). A
      // malformed/truncated top-level box STOPS the scan like walk()
      // does — a progressive file with trailing garbage must keep its
      // progressive index; only corruption INSIDE a moof voids the run.
      var off = 0L
      var sane = true
      val len = p.length.toLong
      while (sane && off + 8 <= len) {
        var size = be32(p, off.toInt)
        val typ = new String(p, off.toInt + 4, 4, "ISO-8859-1")
        var hdr = 8L
        if (size == 1 && off + 16 <= len) { size = be64(p, off.toInt + 8); hdr = 16 }
        else if (size == 0) size = len - off
        if (size < hdr || off + size > len) sane = false
        else if (typ == "moof") {
          // direct children: traf boxes
          var c = off + hdr
          val end = off + size
          while (c + 8 <= end) {
            var cs = be32(p, c.toInt)
            val ct = new String(p, c.toInt + 4, 4, "ISO-8859-1")
            var chdr = 8L
            if (cs == 1 && c + 16 <= end) { cs = be64(p, c.toInt + 8); chdr = 16 }
            else if (cs == 0) cs = end - c
            require(cs >= chdr && c + cs <= end, "moof child truncated")
            if (ct == "traf") processTraf(off, c + chdr, c + cs)
            c += cs
          }
        }
        off += size
      }
      out.toSeq
    }
  }

  /** Real webm/Matroska (EBML) CONTAINER metadata — pure varint/element
    * walk, no codec: the first video TrackEntry's PixelWidth/Height.
    * Like [[Mp4Meta]] this makes `decodeMeta` real at the metadata
    * level; EBML carries no frame count in its headers, so n_frames
    * stays 0 and frame PIXEL decode still needs an external codec.
    */
  object WebmMeta {

    def isEbml(p: Array[Byte]): Boolean =
      p.length >= 4 && (p(0) & 0xff) == 0x1a && (p(1) & 0xff) == 0x45 &&
        (p(2) & 0xff) == 0xdf && (p(3) & 0xff) == 0xa3

    /** EBML varint: leading-zero count of the first byte gives the
      * length; returns (value-with-marker-kept?, nBytes) — `keepMarker`
      * distinguishes element IDs (marker kept by convention) from sizes
      * (marker stripped).
      */
    private def varint(p: Array[Byte], o: Int, keepMarker: Boolean): Option[(Long, Int)] = {
      if (o >= p.length) return None
      val b0 = p(o) & 0xff
      if (b0 == 0) return None
      val len = Integer.numberOfLeadingZeros(b0) - 23 // 1..8
      if (o + len > p.length) return None
      var v = if (keepMarker) b0.toLong else (b0 & (0xff >>> len)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | (p(o + i) & 0xffL); i += 1 }
      Some((v, len))
    }

    private val SegmentId = 0x18538067L
    private val TracksId = 0x1654AE6BL
    private val TrackEntryId = 0xAEL
    private val VideoId = 0xE0L
    private val TrackTypeId = 0x83L
    private val PixelWidthId = 0xB0L
    private val PixelHeightId = 0xBAL
    private val CuesId = 0x1C53BB6BL
    private val CuePointId = 0xBBL
    private val CueTimeId = 0xB3L
    private val CueTrackPositionsId = 0xB7L
    private val CueClusterPositionId = 0xF1L
    private val CueTrackId = 0xF7L
    private val TrackNumberId = 0xD7L
    private val containers = Set(SegmentId, TracksId, TrackEntryId, VideoId,
      CuesId, CuePointId, CueTrackPositionsId)

    private def uint(p: Array[Byte], o: Int, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 8) | (p(o + i) & 0xffL); i += 1 }
      v
    }

    private def walk(p: Array[Byte], from: Int, to: Int,
                     visit: (Long, Int, Int) => Unit): Unit = {
      var off = from
      var ok = true
      while (ok && off < to) {
        (for {
          (id, idLen) <- varint(p, off, keepMarker = true)
          (sz, szLen) <- varint(p, off + idLen, keepMarker = false)
        } yield (id, idLen, sz, szLen)) match {
          case Some((id, idLen, sz, szLen)) =>
            val body = off + idLen + szLen
            // the all-ones VINT_DATA value is the standard "unknown
            // size" (streamed webm uses it on Segment/Cluster): the
            // element extends to the end of its parent — treating it as
            // a literal size aborted the walk and misrouted valid webm
            // to the audio decoder
            if (sz == (1L << (7 * szLen)) - 1) {
              visit(id, body, to)
              if (containers(id)) walk(p, body, to, visit)
              off = to // consumes the rest of this level by definition
            } else {
              // Long math: a 56-bit EBML size would overflow an Int end
              // offset to NEGATIVE, slip past the bounds guard, and walk
              // the next iteration off the front of the array (found by
              // the adversarial-bytes fuzz spec)
              val endL = body.toLong + sz
              if (sz < 0 || endL > to || endL < body) ok = false
              else {
                val end = endL.toInt
                visit(id, body, end)
                if (containers(id)) walk(p, body, end, visit)
                off = end
              }
            }
          case None => ok = false
        }
      }
    }

    def decodeMeta(id: Long, p: Array[Byte]): Option[MediaMeta] = {
      if (!isEbml(p)) return None
      // per TrackEntry: TrackType 1 = video; first video entry's
      // Video>PixelWidth/Height wins
      var w = 0L; var h = 0L
      var curType = -1L; var curW = 0L; var curH = 0L
      var found = false
      // field order inside a TrackEntry is unspecified — capture as soon
      // as all three are known for the current (pre-order) entry
      def maybeCapture(): Unit =
        if (!found && curType == 1 && curW > 0 && curH > 0) {
          w = curW; h = curH; found = true
        }
      walk(p, 0, p.length, { (eid, b, e) =>
        eid match {
          case TrackEntryId => curType = -1; curW = 0; curH = 0
          case TrackTypeId => curType = uint(p, b, e - b); maybeCapture()
          case PixelWidthId => curW = uint(p, b, e - b); maybeCapture()
          case PixelHeightId => curH = uint(p, b, e - b); maybeCapture()
          case _ => ()
        }
      })
      if (found) Some(MediaMeta(id, p.length, w.toInt, h.toInt, 0, "webm"))
      // a valid EBML stream with no parseable video track is still
      // EBML — report zero dimensions rather than falling through to
      // the audio decoder (which would misclassify the payload)
      else Some(MediaMeta(id, p.length, 0, 0, 0, "webm"))
    }

    /** The Matroska keyframe index: Segment > Cues > CuePoint carries
      * (CueTime, CueClusterPosition), where the position is relative to
      * the segment body — the webm analog of mp4's stss/stco walk.
      * Returns [[Mp4Meta.KeyframeRange]]s: sample = cue index (1-based),
      * offset = absolute cluster byte offset, nBytes = up to the next
      * cue's cluster (or end of input). An external decoder fed one
      * cluster slice gets the keyframe plus its dependent frames — the
      * seekable unit Matroska defines. Malformed cues → empty (fuzz-safe).
      */
    def cueRanges(p: Array[Byte]): Seq[Mp4Meta.KeyframeRange] = {
      if (!isEbml(p)) return Seq.empty
      var segBody = -1L
      // video track number (first TrackType-1 entry): multi-track files
      // carry one CueTrackPositions per track per cue point — only the
      // video track's cluster positions are keyframe ranges
      var videoTrack = -1L
      var teType = -1L
      var teNum = -1L
      def flushTrackEntry(): Unit = {
        if (videoTrack < 0 && teType == 1 && teNum > 0) videoTrack = teNum
        teType = -1; teNum = -1
      }
      // per cue point: (time, [(cueTrack or -1, position)])
      val cues = scala.collection.mutable.ArrayBuffer[(Long, List[(Long, Long)])]()
      var curTime = -1L
      var curPairs = List.empty[(Long, Long)]
      var ctpTrack = -1L
      var ctpPos = -1L
      def flushPositions(): Unit = {
        if (ctpPos >= 0) curPairs ::= ((ctpTrack, ctpPos))
        ctpTrack = -1; ctpPos = -1
      }
      def flushCue(): Unit = {
        flushPositions()
        if (curTime >= 0 && curPairs.nonEmpty) cues += ((curTime, curPairs.reverse))
        curTime = -1; curPairs = Nil
      }
      walk(p, 0, p.length, { (id, b, e) =>
        id match {
          case SegmentId => if (segBody < 0) segBody = b.toLong
          case TrackEntryId => flushTrackEntry()
          case TrackTypeId => teType = uint(p, b, e - b)
          case TrackNumberId => teNum = uint(p, b, e - b)
          case CuePointId => flushCue()
          case CueTimeId => curTime = uint(p, b, e - b)
          case CueTrackPositionsId => flushPositions()
          case CueTrackId => ctpTrack = uint(p, b, e - b)
          case CueClusterPositionId => ctpPos = uint(p, b, e - b)
          case _ => ()
        }
      })
      flushCue()
      flushTrackEntry()
      if (segBody < 0) return Seq.empty
      // prefer the video track's position; fall back to an untracked
      // position (cue points without CueTrack), then to the first one
      def choose(pairs: List[(Long, Long)]): Option[Long] =
        (if (videoTrack > 0) pairs.find(_._1 == videoTrack) else None)
          .orElse(pairs.find(_._1 < 0))
          .orElse(if (videoTrack > 0) None else pairs.headOption)
          .map(_._2)
      val offsets = cues.flatMap { case (t, pairs) => choose(pairs).map(t -> _) }
        .map { case (t, pos) => (t, segBody + pos) }
        .filter { case (_, off) => off >= segBody && off <= p.length }
        .distinct
        .sortBy(_._2)
      offsets.zipWithIndex.map { case ((_, off), i) =>
        val end = if (i + 1 < offsets.length) offsets(i + 1)._2 else p.length.toLong
        Mp4Meta.KeyframeRange(i + 1, off, end - off)
      }.toSeq
    }
  }

  /** STUB codec — deterministic fake decode for modalities the JDK has
    * no codec for (frame pixels of true video containers). A real
    * deployment swaps this for JNI/FFI codec calls; the signature and
    * batch shape stay.
    */
  object StubCodec {
    /** ??? real impl: decode header via imageio/ffprobe. Deterministic
      * fake: derive dims from byte length and first byte.
      */
    def decodeMeta(id: Long, payload: Array[Byte]): MediaMeta = {
      val n = payload.length
      val b0 = if (n > 0) payload(0) & 0xff else 0
      MediaMeta(id, n, width = n % 64 + 1, height = b0 % 64 + 1,
        n_frames = n % 7 + 1, format = if (n % 2 == 0) "img" else "vid")
    }

    /** ??? real impl: resize + embed. Deterministic fake: k-dim rolling
      * byte histogram, L1-normalized.
      */
    def extractFeature(id: Long, payload: Array[Byte], dim: Int): MediaFeature = {
      val hist = new Array[Float](dim)
      var i = 0
      while (i < payload.length) { hist((payload(i) & 0xff) % dim) += 1f; i += 1 }
      val total = math.max(1f, payload.length.toFloat)
      var j = 0
      while (j < dim) { hist(j) /= total; j += 1 }
      MediaFeature(id, dim, hist)
    }
  }

  /** Attach a binary payload column name pair → typed metadata Dataset.
    * mapPartitions so a real codec initializes once per partition.
    */
  def decodeMeta(df: DataFrame, idCol: String, payloadCol: String): Dataset[MediaMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // codec init happens once per partition; images, audio, and
        // animated GIFs decode for real — only true video containers stub
        it.map { case (id, p) =>
          val payload = Option(p).getOrElse(Array.empty[Byte])
          if (VideoCodec.isAnimated(payload)) VideoCodec.decodeMeta(id, payload)
          else if (ImageCodec.sniffFormat(payload).isDefined) ImageCodec.decodeMeta(id, payload)
          else Mp4Meta.decodeMeta(id, payload)
            .orElse(WebmMeta.decodeMeta(id, payload))
            .getOrElse(AudioCodec.decodeMeta(id, payload))
        }
      }
  }

  /** Feature extraction with fixed output dim — the batch shape a
    * downstream ANN index consumes.
    */
  def extractFeatures(df: DataFrame, idCol: String, payloadCol: String,
                      dim: Int): Dataset[MediaFeature] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val payload = Option(p).getOrElse(Array.empty[Byte])
          if (VideoCodec.isAnimated(payload))
            VideoCodec.extractFeature(id, payload, dim)
          else if (ImageCodec.sniffFormat(payload).isDefined)
            ImageCodec.extractFeature(id, payload, dim)
          else AudioCodec.extractFeature(id, payload, dim)
        }
      }
  }

  /** Per-payload 64-bit perceptual hash ([[ImageCodec.aHash64]]) via
    * real image decode in mapPartitions. Non-image / undecodable rows
    * are dropped (no stub hash — a fake fingerprint would create fake
    * duplicate clusters). Only (id, 8-byte hash) rows leave the scan;
    * the payloads themselves never shuffle — the property that keeps
    * this linear at 100 TB of blobs.
    */
  def imagePHashes(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          ImageCodec.perceptualHash(Option(p).getOrElse(Array.empty[Byte]))
            .map(h => (id, h))
        }
      }.toDF(idCol, "phash")
  }

  /** Per-payload audio fingerprint ([[AudioCodec.fingerprint64]]) via
    * real PCM decode in mapPartitions; non-audio rows are dropped.
    * Only (id, 8-byte hash) rows leave the scan — payloads never
    * shuffle, same contract as [[imagePHashes]].
    */
  def audioFingerprints(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          AudioCodec.fingerprint64(Option(p).getOrElse(Array.empty[Byte]))
            .map(h => (id, h))
        }
      }.toDF(idCol, "afp")
  }

  /** Banded-Hamming near-duplicate pairs over any 64-bit perceptual
    * hash column (image aHash, audio fingerprint, …): the hash splits
    * into four 16-bit bands; rows sharing any band key become
    * candidates (equi-join on (band, key) — the same LSH shape as text
    * MinHash banding, shuffling only 8-byte hashes), then candidates
    * verify with the exact popcount distance (`bit_count(a ^ b)`,
    * whole-stage codegen). Near-identical items differ in few bits, so
    * they collide in at least one unchanged band with high probability;
    * unrelated items (~32 bits apart) almost never do. `maxBucket` caps
    * pathological band-bucket occupancy (e.g. monochrome boilerplate
    * images all hashing to 0) so one hot bucket can't go quadratic —
    * the capped buckets are skipped, same policy as
    * [[graft.functions.DedupFunctions.minhashPairs]].
    */
  def hammingNearDup(hashes: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 16, maxBucket: Int = 10000): DataFrame = {
    // the banded keys feed three consumers (occupancy census + both
    // self-join sides); without a persist each would re-run the
    // upstream decode+hash scan — the expensive part — three times
    // (SparkEntry.queries contract: callers clear caches between
    // queries, like Bench.dropCaches)
    val keys = bandedKeys(hashes, idCol, hashCol, "__id", "__h")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ok = keys.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "key")
    val inBucket = keys.join(ok, Seq("band", "key"))
    inBucket.as("a").join(inBucket.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.__h").as("__ha"), col("b.__h").as("__hb"))
      .distinct()
      .select(col("a_id"), col("b_id"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded (band, key) rows for a 64-bit hash column — shared by
    * [[hammingNearDup]] and the persisted-index probe.
    */
  private def bandedKeys(df: DataFrame, idCol: String, hashCol: String,
                         idOut: String, hashOut: String): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col(hashCol), 16 * b).bitwiseAND(lit(0xffffL)).as("key"))
    }
    df.select(col(idCol).as(idOut), col(hashCol).as(hashOut),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col(idOut), col(hashOut),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Persist a perceptual-hash corpus index (image aHash or audio
    * fingerprint — any 64-bit hash) as a segmented tree
    * ([[graft.functions.SegmentedIndex]]): 9 bytes of index state per
    * payload, the ingest-dedup shape — new items probe the index
    * instead of re-hashing the corpus.
    */
  def savePHashIndex(hashes: DataFrame, idCol: String, hashCol: String,
                     path: String): Unit =
    graft.functions.SegmentedIndex.createIndex(hashes.sparkSession, path,
      "hashes", hashes.select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("hash")))

  /** O(delta) refresh: `deltaIds` is every id in the delta batch;
    * `hashes` the hashes of its DECODABLE payloads. An id whose payload
    * no longer decodes (or was nulled — the deletion contract shared
    * with the BM25/dedup indexes) is tombstoned and not re-ingested;
    * re-ingested ids replace their old hash.
    */
  def mergePHashDelta(deltaIds: DataFrame, hashes: DataFrame, idCol: String,
                      hashCol: String, path: String): Unit =
    graft.functions.SegmentedIndex.mergeDeltaRows(hashes.sparkSession, path,
      "hashes", deltaIds.select(col(idCol).cast("long").as("id")),
      hashes.select(col(idCol).cast("long").as("id"),
        col(hashCol).cast("long").as("hash")))

  /** Live (id, hash) rows of a persisted perceptual-hash index.
    * `asOf` pins the snapshot to segments <= asOf.
    */
  def phashIndexRows(spark: org.apache.spark.sql.SparkSession,
                     path: String, asOf: Int = Int.MaxValue): DataFrame =
    graft.functions.SegmentedIndex.liveRows(spark, path, "hashes", asOf)

  /** Ingest-time near-dup probe: incoming hashes against the persisted
    * index via the banded equi-join (index side occupancy-capped),
    * popcount-verified. The corpus is never re-hashed — only its
    * 8-byte index rows are read; the stream-legal shape
    * (stream-static join) for gating ingest on visual/audio dupes.
    */
  def probePHashIndex(path: String, incoming: DataFrame, idCol: String,
                      hashCol: String, maxHamming: Int = 10,
                      maxBucket: Int = 10000,
                      asOf: Int = Int.MaxValue): DataFrame = {
    val spark = incoming.sparkSession
    val ib = bandedKeys(phashIndexRows(spark, path, asOf), "id", "hash", "__xid", "__xh")
    val ok = ib.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "key")
    val qb = bandedKeys(incoming, idCol, hashCol, "__qid", "__qh")
    qb.join(ib.join(ok, Seq("band", "key")), Seq("band", "key"))
      .select(col("__qid"), col("__xid"), col("__qh"), col("__xh")).distinct()
      .select(col("__qid").as("in_id"), col("__xid").as("index_id"),
        bit_count(col("__qh").bitwiseXOR(col("__xh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Frame sampling plan: every `stride`-th frame index per item —
    * pure column math (no decode), the partition-friendly precursor
    * to a real frame extractor.
    */
  def frameSamplePlan(meta: Dataset[MediaMeta], stride: Int): DataFrame =
    meta.toDF()
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select("id", "frame_idx")

  /** Keyframe byte ranges for one payload: mp4 sync-sample walk first,
    * Matroska cue index for webm/EBML payloads. */
  private def keyframeRangesOf(payload: Array[Byte]): Seq[Mp4Meta.KeyframeRange] = {
    val mp4 = Mp4Meta.keyframes(payload)
    if (mp4.nonEmpty) mp4 else WebmMeta.cueRanges(payload)
  }

  /** Keyframe → byte-range index over a column of video payloads (mp4
    * sync samples, webm cue points): one row per keyframe (id, sample,
    * offset, n_bytes). mapPartitions over the payloads in place — the
    * heavy binary column never shuffles; what flows on is the small
    * index table an external decoder (or a storage-side ranged read at
    * 100 TB) consumes.
    */
  def videoKeyframes(df: DataFrame, idCol: String, payloadCol: String): Dataset[VideoKeyframe] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          val payload = Option(p).getOrElse(Array.empty[Byte])
          keyframeRangesOf(payload)
            .map(k => VideoKeyframe(id, k.sample, k.offset, k.nBytes))
        }
      }
  }

  /** TRUE-video frame sampling through the external-decoder pipe seam
    * (the same contract as [[graft.operators.PipeAnnotator]]): every
    * `stride`-th keyframe's byte slice is piped — base64 TSV lines
    * `id \t sample \t b64(slice)` — to `command`, one process per
    * partition, which answers `id \t sample \t result` per line. JDK
    * has no H.264/VP9 codec; the engine's job is the index + the
    * partition-local plumbing, the decoder plugs in per deployment.
    *
    * mp4 payloads ship only their keyframe slices; webm payloads ship
    * per-cue-point cluster slices (the Matroska seek unit). An EBML
    * payload with no cue index ships CHUNKED — consecutive lines with
    * sample = -1, -2, … (chunk j ↦ -(j+1), ≤ `fallbackChunkBytes`
    * each, in stream order on the same partition) — so the base64
    * staging cost is bounded per line instead of ~2.7× the whole
    * payload; a streaming decoder reassembles by concatenating the
    * negative-sample lines of an id in arrival order. Payloads never
    * shuffle: the pipe runs on the scan partitions.
    *
    * A keyframe range that fails the payload bounds check means a
    * corrupt index; those are COUNTED into `droppedRanges` (pass a
    * `sparkContext.longAccumulator`) rather than silently skipped —
    * an under-sampled corpus should be visible, not inferred.
    */
  def sampleKeyframesPipe(df: DataFrame, idCol: String, payloadCol: String,
                          command: Seq[String], stride: Int = 1,
                          fallbackChunkBytes: Int = 4 << 20,
                          droppedRanges: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val lines = df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .rdd
      .mapPartitions { it =>
        val enc = java.util.Base64.getEncoder
        it.flatMap { case (id, p) =>
          val payload = Option(p).getOrElse(Array.empty[Byte])
          val kfs = keyframeRangesOf(payload)
          if (kfs.nonEmpty) {
            val sampled = kfs.zipWithIndex.filter(_._2 % stride == 0)
            val (inBounds, dropped) = sampled.partition { case (k, _) =>
              k.offset >= 0 && k.offset + k.nBytes <= payload.length
            }
            if (dropped.nonEmpty) droppedRanges.foreach(_.add(dropped.size.toLong))
            inBounds.map { case (k, _) =>
              val slice = java.util.Arrays.copyOfRange(
                payload, k.offset.toInt, (k.offset + k.nBytes).toInt)
              s"$id\t${k.sample}\t${enc.encodeToString(slice)}"
            }
          } else if (WebmMeta.isEbml(payload))
            // lazy iterator: one chunk is encoded at a time as the pipe
            // consumes lines, so staging memory is O(chunk), not O(payload)
            payload.grouped(math.max(1, fallbackChunkBytes)).zipWithIndex
              .map { case (chunk, j) => s"$id\t${-(j + 1)}\t${enc.encodeToString(chunk)}" }
          else Iterator.empty
        }
      }
      .pipe(command)
      .map { line =>
        val q = line.split("\t", 3)
        org.apache.spark.sql.Row(q(0).toLong, q(1).toInt,
          if (q.length > 2) q(2) else "")
      }
    spark.createDataFrame(lines, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("sample", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("decoded", org.apache.spark.sql.types.StringType))))
  }

  /** Per-keyframe FEATURES from the external decoder: the decoder's
    * third TSV field is parsed as a comma-separated numeric vector →
    * `(id, sample, feature array<double>)` — the batch shape a
    * downstream ANN index or training pipeline consumes. The heavy
    * payload column still never shuffles: slices pipe to the decoder on
    * the scan partitions ([[sampleKeyframesPipe]]), and only the small
    * feature rows flow on.
    */
  def frameFeaturesPipe(df: DataFrame, idCol: String, payloadCol: String,
                        command: Seq[String], stride: Int = 1,
                        fallbackChunkBytes: Int = 4 << 20,
                        droppedRanges: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame =
    sampleKeyframesPipe(df, idCol, payloadCol, command, stride,
      fallbackChunkBytes, droppedRanges)
      .select(col("id"), col("sample"),
        transform(split(col("decoded"), ","), x => x.cast("double")).as("feature"))

  /** Conf keys of the video decoder seam. */
  val DecoderCommandKey = "spark.graft.video.decoderCommand"
  val AllowStubKey = "spark.graft.video.allowStub"

  /** The external decoder command configured on the session
    * (`spark.graft.video.decoderCommand`, whitespace-split), if any.
    *
    * Decoder CLI contract (the reference implementation is any ffmpeg
    * wrapper honoring it): the command is spawned once per partition;
    * stdin receives one TSV line per keyframe slice —
    * `id \t sample \t base64(slice bytes)` — and stdout must answer
    * `id \t sample \t v0,v1,...` with the frame's feature vector as
    * comma-separated floats, one line per input line, any order. An
    * ffmpeg-based command would base64-decode the slice, decode the
    * frame (`ffmpeg -i pipe:0 -frames:v 1 -f rawvideo pipe:1` per
    * line, or a resident loop), and emit its pooled pixel features.
    */
  def configuredDecoderCommand(
      spark: org.apache.spark.sql.SparkSession): Option[Seq[String]] =
    spark.conf.getOption(DecoderCommandKey)
      .map(_.trim.split("\\s+").toSeq).filter(_.nonEmpty)

  /** TRUE-video frame features with an explicit decoder seam: when
    * `decoderCommand` is configured, mp4/webm payloads go through the
    * REAL path — keyframe byte ranges sliced in place, piped to the
    * external decoder (see [[configuredDecoderCommand]] for the CLI
    * contract), its per-frame feature vectors consumed as columns;
    * [[StubCodec]] is bypassed entirely.
    *
    * With no command the stub is OPT-IN, not a fallback: unless the
    * session sets `spark.graft.video.allowStub=true`, this THROWS —
    * a misconfigured deployment must fail loudly rather than silently
    * train on deterministic fake features. With the flag set, the
    * declared stub answers (sample = -1, whole-payload histogram),
    * marking exactly the integration gap a deployment closes by
    * supplying its codec command.
    */
  def videoFrameFeatures(df: DataFrame, idCol: String, payloadCol: String,
                         decoderCommand: Option[Seq[String]], stride: Int = 1,
                         stubDim: Int = 8): DataFrame = decoderCommand match {
    case Some(cmd) =>
      frameFeaturesPipe(df, idCol, payloadCol, cmd, stride)
    case None =>
      val spark = df.sparkSession
      if (!spark.conf.get(AllowStubKey, "false").toBoolean)
        throw new IllegalStateException(
          s"no video decoder configured: set $DecoderCommandKey to an " +
            "external decoder command (stdin: 'id\\tsample\\tbase64(slice)' " +
            "TSV lines; stdout: 'id\\tsample\\tv0,v1,...' per frame), or " +
            s"explicitly opt into the deterministic fake with $AllowStubKey=true")
      import spark.implicits._
      df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          it.map { case (id, p) =>
            val payload = Option(p).getOrElse(Array.empty[Byte])
            val f = StubCodec.extractFeature(id, payload, stubDim)
            (id, -1, f.feature.map(_.toDouble).toSeq)
          }
        }.toDF("id", "sample", "feature")
  }

  /** [[videoFrameFeatures]] resolving the decoder from session conf —
    * the deployment entry point: configure
    * `spark.graft.video.decoderCommand` once and every frame-feature
    * pass uses the real decoder; without it this fails loudly unless
    * the stub was explicitly allowed.
    */
  def videoFrameFeaturesAuto(df: DataFrame, idCol: String, payloadCol: String,
                             stride: Int = 1, stubDim: Int = 8): DataFrame =
    videoFrameFeatures(df, idCol, payloadCol,
      configuredDecoderCommand(df.sparkSession), stride, stubDim)
}
