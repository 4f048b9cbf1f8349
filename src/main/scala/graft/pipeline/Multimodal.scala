package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import javax.imageio.ImageIO

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in bounded
  * batches.
  *
  * [[PureJvmDecoder]] (the default) does REAL codec work with zero
  * external dependencies:
  *   - image: 24-bit uncompressed BMP (BITMAPINFOHEADER) via a
  *     hand-rolled full pixel decode, plus COMPRESSED formats — baseline
  *     + progressive JPEG, PNG, GIF — via the JDK's built-in
  *     `javax.imageio` codecs (headless-safe, no external libraries).
  *     Per-channel means + luma spread either way.
  *   - audio: RIFF/WAVE PCM-16 — chunk walk, sample decode, RMS / peak /
  *     zero-crossing-rate. MP3 and Ogg/Opus get stats-grade decodes
  *     (frame-header / page-and-TOC walks: duration, bitrate, channels).
  *   - video: a raw BMP-frame sequence (concatenated BMP files, each
  *     self-delimiting via its fileSize header) or an MJPEG-style
  *     concatenated baseline-JFIF stream (frames delimited by SOI/EOI
  *     markers) — frame scan + sampled frame decode (first/middle/last),
  *     averaged features. H.264 Annex-B gets a stats-grade NAL walk with
  *     a full Exp-Golomb SPS parse (resolution, profile/level, frames).
  * Compressed A/V formats whose full sample decode needs native
  * libraries (H.264, Opus, MP3) get STATS-grade decodes instead — real
  * parses of the public bitstream framing (MP3 frame headers, H.264
  * NAL/SPS, Ogg/Opus pages) yielding the duration/resolution/bitrate/
  * channel facts a 100 TB curation pipeline actually filters on,
  * without any entropy/DCT work.
  *
  * Every decoder must be a pure function of the payload bytes —
  * deterministic across retries/partitionings.
  */
object Multimodal {

  final case class Decoded(features: Array[Float], frames: Int)

  trait AssetDecoder extends Serializable {
    /** Decode payload → fixed-width feature vector + frame count;
      * None = corrupt/undecodable.
      */
    def decode(kind: String, payload: Array[Byte], width: Int, height: Int, durationMs: Int): Option[Decoded]
  }

  /** SAMPLE-level decode interface for the compressed formats whose
    * full decode needs native libraries not present in this
    * environment (MP3 / Opus entropy+synthesis, H.264 entropy+DCT).
    * No implementation ships — `sampleDecoder` stays None as the
    * honest fence — but the CONTRACT is already pinned: the
    * SampleDecodeContractSpec carries deterministic fixture vectors
    * with spec-derived expected outputs (silent MP3 granules → zero
    * PCM, Opus DTX packets → zero PCM of the TOC duration, all-skip
    * H.264 P-frames → frames identical to the IDR) as ignored-until-
    * native tests, so wiring a native decoder later means implementing
    * this trait, setting `sampleDecoder`, and un-ignoring a waiting
    * gate — not designing one.
    */
  trait SampleDecoder extends Serializable {
    /** Full PCM decode: (samples interleaved, sampleRate, channels). */
    def mp3Pcm(payload: Array[Byte]): Option[(Array[Short], Int, Int)]
    /** Full PCM decode of an Ogg/Opus stream at 48 kHz (pre-skip applied). */
    def opusPcm(payload: Array[Byte]): Option[(Array[Short], Int, Int)]
    /** Full frame decode: one packed-RGB raster per access unit. */
    def h264Frames(payload: Array[Byte]): Option[Seq[BufferedImage]]
  }

  /** The wired native sample decoder, None in this environment. */
  val sampleDecoder: Option[SampleDecoder] = None

  // ------------------------------------------------------------ real codecs

  object PureJvmDecoder extends AssetDecoder {

    // executors may run before any AWT touch: force headless and keep
    // ImageIO's scratch space in memory (its default disk cache writes
    // a temp file per decode — a /tmp-writeback storm at scale)
    System.setProperty("java.awt.headless", "true")
    ImageIO.setUseCache(false)

    private def isBmp(p: Array[Byte], off: Int): Boolean =
      off + 2 <= p.length && p(off) == 'B' && p(off + 1) == 'M'
    private def isJpeg(p: Array[Byte]): Boolean =
      p.length >= 3 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff
    private def isPng(p: Array[Byte]): Boolean =
      p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'
    private def isGif(p: Array[Byte]): Boolean =
      p.length >= 6 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F'
    private def isOgg(p: Array[Byte]): Boolean =
      p.length >= 4 && p(0) == 'O' && p(1) == 'g' && p(2) == 'g' && p(3) == 'S'
    private def isAnnexB(p: Array[Byte]): Boolean =
      (p.length >= 4 && p(0) == 0 && p(1) == 0 && p(2) == 0 && p(3) == 1) ||
        (p.length >= 3 && p(0) == 0 && p(1) == 0 && p(2) == 1)

    def decode(kind: String, payload: Array[Byte], width: Int, height: Int, durationMs: Int): Option[Decoded] =
      // belt-and-braces: header fields are range-validated below, but a
      // crafted payload that slips past a check must still flag as
      // corrupt, never kill the task ("corrupt flagged, not fatal")
      try kind match {
        case "image" =>
          (if (isBmp(payload, 0)) decodeBmp(payload, 0).map(_._1)
           else decodeImageIo(payload)).map(Decoded(_, 1))
        case "audio" =>
          (if (payload.length >= 4 && payload(0) == 'R' && payload(1) == 'I') decodeWav(payload)
           else if (isOgg(payload)) decodeOggOpusStats(payload)
           else decodeMp3Stats(payload)).map(Decoded(_, 1))
        case "video" =>
          if (isBmp(payload, 0)) decodeBmpSequence(payload)
          else if (isAnnexB(payload)) decodeH264Stats(payload)
          else decodeJpegSequence(payload)
        case _ => None
      } catch { case _: IndexOutOfBoundsException | _: ArithmeticException | _: NegativeArraySizeException => None }

    /** Compressed raster decode (JPEG/PNG/GIF) through the JDK's
      * `javax.imageio` plugins — a full entropy/DCT/deflate decode, not
      * a header peek. Same 8-feature contract as [[decodeBmp]]; the
      * integer channel sums make the means bit-identical to the BMP path
      * for lossless formats carrying the same pixels.
      */
    /** Decompression-bomb guard: a tiny payload can DECLARE a huge
      * W×H (PNG/GIF headers are bytes), and a full decode would
      * allocate W*H*4 bytes — an executor-killing OutOfMemoryError,
      * which is an Error, not the Exception set the corrupt-payload
      * contract catches. Checked header-only before any pixel decode.
      */
    private val MaxPixels = 64L * 1024 * 1024 // 64 Mpx ≈ 256 MB ARGB

    /** Guarded ImageIO decode to a BufferedImage: header-only
      * dimension peek via the plugin reader (the bomb guard), then the
      * bounded full decode through the same reader. Null on corrupt /
      * oversized / unreadable payloads — never throws.
      */
    private[pipeline] def decodeToImage(p: Array[Byte]): BufferedImage = {
      val img =
        try {
          val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(p))
          try {
            val readers = ImageIO.getImageReaders(iis)
            if (!readers.hasNext) null
            else {
              val reader = readers.next()
              try {
                reader.setInput(iis, true, true)
                val w = reader.getWidth(0)
                val h = reader.getHeight(0)
                if (w <= 0 || h <= 0 || w.toLong * h > MaxPixels) null
                else reader.read(0)
              } finally reader.dispose()
            }
          } finally if (iis != null) iis.close()
        } catch { case _: Exception => null } // corrupt stream → flagged, not fatal
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) null else img
    }

    private[pipeline] def decodeImageIo(p: Array[Byte]): Option[Array[Float]] = {
      if (!isJpeg(p) && !isPng(p) && !isGif(p)) return None
      val img = decodeToImage(p)
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      var sr = 0L; var sg = 0L; var sb = 0L
      var sl = 0.0; var sl2 = 0.0
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          sr += r; sg += g; sb += b
          val luma = 0.299 * r + 0.587 * g + 0.114 * b
          sl += luma; sl2 += luma * luma
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val meanL = sl / n
      val varL = math.max(0.0, sl2 / n - meanL * meanL)
      Some(Array(
        (sr.toDouble / n / 255.0).toFloat,
        (sg.toDouble / n / 255.0).toFloat,
        (sb.toDouble / n / 255.0).toFloat,
        (math.sqrt(varL) / 255.0).toFloat,
        w / 1024.0f,
        h / 1024.0f,
        w.toFloat / h,
        0f
      ))
    }

    /** Exclusive end offset of the JPEG frame starting at `start`, or
      * -1 if malformed/truncated. A SEGMENT-AWARE walk, not a raw FFD9
      * scan: length-prefixed marker segments (APPn/COM — where EXIF
      * thumbnails embed a complete inner JPEG with its own EOI) are
      * skipped wholesale; only entropy-coded scan data is byte-scanned,
      * where byte-stuffing (FF 00 / FF D0-D7) makes a bare FF-marker
      * test sound.
      */
    private[pipeline] def jpegFrameEnd(p: Array[Byte], start: Int): Int = {
      var pos = start + 2 // past SOI
      while (pos + 1 < p.length) {
        if ((p(pos) & 0xff) != 0xff) return -1 // marker expected
        var m = p(pos + 1) & 0xff
        while (m == 0xff && pos + 2 < p.length) { pos += 1; m = p(pos + 1) & 0xff } // fill bytes
        m match {
          case 0xd9 => return pos + 2 // EOI
          case 0xd8 => return -1 // nested SOI outside a length-prefixed segment
          case x if (x >= 0xd0 && x <= 0xd7) || x == 0x01 => pos += 2 // standalone
          case 0xda => // SOS: skip header, then entropy data to next true marker
            if (pos + 3 >= p.length) return -1
            val len = ((p(pos + 2) & 0xff) << 8) | (p(pos + 3) & 0xff)
            if (len < 2) return -1
            var i = pos + 2 + len
            var next = -1
            while (next < 0 && i + 1 < p.length) {
              val b2 = p(i + 1) & 0xff
              if ((p(i) & 0xff) == 0xff && b2 != 0x00 && !(b2 >= 0xd0 && b2 <= 0xd7)) next = i
              else i += 1
            }
            if (next < 0) return -1 // truncated entropy data
            pos = next
          case _ => // length-prefixed segment (APPn/COM/DQT/SOF/DHT/...)
            if (pos + 3 >= p.length) return -1
            val len = ((p(pos + 2) & 0xff) << 8) | (p(pos + 3) & 0xff)
            if (len < 2) return -1
            pos += 2 + len
        }
      }
      -1
    }

    /** MJPEG-style concatenated JFIF frames, delimited by the segment-
      * aware [[jpegFrameEnd]] walk. Samples first/middle/last frames,
      * averages features.
      */
    private[pipeline] def decodeJpegSequence(p: Array[Byte]): Option[Decoded] = {
      if (!isJpeg(p)) return None
      val bounds = List.newBuilder[(Int, Int)]
      var count = 0
      var start = 0
      while (start < p.length) {
        if (start + 3 > p.length || (p(start) & 0xff) != 0xff ||
          (p(start + 1) & 0xff) != 0xd8 || (p(start + 2) & 0xff) != 0xff) return None
        val end = jpegFrameEnd(p, start)
        if (end < 0) return None // truncated/malformed frame
        bounds += ((start, end))
        count += 1
        start = end
      }
      if (count == 0) return None
      val frameBounds = bounds.result()
      val sample = Seq(0, count / 2, count - 1).distinct.map(frameBounds(_))
      val feats = sample.map { case (s, e) =>
        decodeImageIo(java.util.Arrays.copyOfRange(p, s, e)) match {
          case Some(f) => f
          case None => return None
        }
      }
      val avg = new Array[Float](8)
      feats.foreach(f => (0 until 8).foreach(j => avg(j) += f(j) / feats.size))
      Some(Decoded(avg, count))
    }

    /** 64-bit difference-hash (dHash) perceptual fingerprint — the
      * standard image near-dup identity (same family as pHash/aHash;
      * see Krawetz's published dHash recipe): sample the luma plane on
      * a 9×8 grid (nearest-neighbor at integer cell centers — exact,
      * and well-defined even for images narrower than the grid), then
      * bit (r,c) = "right cell brighter than left". Re-encoding the
      * same pixels (BMP↔PNG) hashes identically; small noise,
      * brightness wiggles or mild lossy re-encodes flip only the bits
      * whose neighboring cells were nearly equal. Integer milli-weight
      * luma (299/587/114) keeps the hash a pure function of the
      * pixels. Accepts any ImageIO-readable payload (BMP included —
      * the JDK ships a BMP reader) behind the same bomb guard.
      */
    private[pipeline] def dHash64(p: Array[Byte]): Option[Long] = {
      val isBmp = p.length >= 2 && p(0) == 'B' && p(1) == 'M'
      if (!isBmp && !isJpeg(p) && !isPng(p) && !isGif(p)) return None
      val img = decodeToImage(p)
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      val cells = Array.ofDim[Long](8, 9)
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 9) {
          val px = math.min((2 * c + 1) * w / 18, w - 1)
          val py = math.min((2 * r + 1) * h / 16, h - 1)
          val rgb = img.getRGB(px, py)
          cells(r)(c) = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
          c += 1
        }
        r += 1
      }
      var bits = 0L
      var i = 0
      var rr = 0
      while (rr < 8) {
        var cc = 0
        while (cc < 8) {
          if (cells(rr)(cc + 1) > cells(rr)(cc)) bits |= (1L << i)
          i += 1
          cc += 1
        }
        rr += 1
      }
      Some(bits)
    }

    /** 64-bit audio energy-envelope fingerprint — the dHash idea
      * applied to sound (the published echoprint/chromaprint family
      * quantizes spectral deltas; with no FFT in-container the
      * time-domain ENERGY envelope is the deterministic stand-in):
      * decode PCM-16 mono WAV, pool |sample| into 65 equal frames,
      * bit j = "frame j+1 louder than frame j". Exact duplicates and
      * LSB-dithered re-encodes hash within a couple of bits (a ±1
      * sample wiggle moves a frame's energy by ≤ frame length, orders
      * under real inter-frame envelope deltas); stationary signals
      * (a flat test tone) have no envelope and hash as noise — real
      * program audio does not look like that.
      */
    private[pipeline] def audioFingerprint64(p: Array[Byte]): Option[Long] = {
      if (p.length < 44 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
        p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E') return None
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var sampleRate = 0; var channels = 0; var bps = 0
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= p.length) {
        val id = new String(p, pos, 4, "US-ASCII")
        val len = bb.getInt(pos + 4)
        if (len < 0 || pos.toLong + 8 + len > p.length) return None
        id match {
          case "fmt " =>
            if (len < 16) return None
            if ((bb.getShort(pos + 8) & 0xffff) != 1) return None // PCM only
            channels = bb.getShort(pos + 10) & 0xffff
            sampleRate = bb.getInt(pos + 12)
            bps = bb.getShort(pos + 22) & 0xffff
          case "data" =>
            dataOff = pos + 8; dataLen = len
          case _ => ()
        }
        pos += 8 + len + (len & 1)
      }
      if (dataOff < 0 || bps != 16 || channels != 1 || sampleRate <= 0) return None
      val n = dataLen / 2
      val frames = 65
      if (n < frames * 2) return None // too short for a meaningful envelope
      val energies = new Array[Long](frames)
      var i = 0
      while (i < n) {
        val s = bb.getShort(dataOff + 2 * i).toInt
        energies(((i.toLong * frames) / n).toInt) += math.abs(s)
        i += 1
      }
      var bits = 0L
      var j = 0
      while (j < 64) {
        if (energies(j + 1) > energies(j)) bits |= (1L << j)
        j += 1
      }
      Some(bits)
    }

    /** Sampled-frame perceptual hashes for a VIDEO payload (BMP-frame
      * sequence or MJPEG): the first / middle / last frames' [[dHash64]]
      * values — the standard representative-frame video fingerprint
      * (per-frame hashes survive re-encoding and per-pixel noise
      * exactly like the still-image path; sampling three positions
      * buys temporal-shift robustness without hashing every frame).
      * Empty = corrupt, truncated, or a stats-only format (H.264 has
      * no in-container pixel decode); ANY undecodable sampled frame
      * flags the whole video.
      */
    private[pipeline] def videoPhash64s(p: Array[Byte]): Seq[Long] = {
      val slices: Seq[(Int, Int)] =
        if (isBmp(p, 0)) {
          val offs = List.newBuilder[(Int, Int)]
          var off = 0
          var ok = true
          while (ok && off + 54 <= p.length && p(off) == 'B' && p(off + 1) == 'M') {
            val size = ByteBuffer.wrap(p, off + 2, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
            if (size < 54 || off.toLong + size > p.length) ok = false
            else { offs += ((off, off + size)); off += size }
          }
          if (!ok || off != p.length) return Nil
          offs.result()
        } else if (isJpeg(p)) {
          val bounds = List.newBuilder[(Int, Int)]
          var start = 0
          while (start < p.length) {
            if (start + 3 > p.length || (p(start) & 0xff) != 0xff ||
              (p(start + 1) & 0xff) != 0xd8 || (p(start + 2) & 0xff) != 0xff) return Nil
            val end = jpegFrameEnd(p, start)
            if (end < 0) return Nil
            bounds += ((start, end))
            start = end
          }
          bounds.result()
        } else return Nil
      val n = slices.size
      if (n == 0) return Nil
      val sample = Seq(0, n / 2, n - 1).distinct.map(slices(_))
      val hashes = sample.flatMap { case (s, e) =>
        dHash64(java.util.Arrays.copyOfRange(p, s, e))
      }
      if (hashes.size != sample.size) Nil else hashes
    }

    /** 24-bit uncompressed BMP at `off`. Returns (features, byteLength).
      * Features: meanR, meanG, meanB, luma stddev, w/1024, h/1024,
      * aspect, fill.
      */
    private[pipeline] def decodeBmp(p: Array[Byte], off: Int): Option[(Array[Float], Int)] = {
      if (off + 54 > p.length || p(off) != 'B' || p(off + 1) != 'M') return None
      val bb = ByteBuffer.wrap(p, off, p.length - off).order(ByteOrder.LITTLE_ENDIAN)
      val fileSize = bb.getInt(off + 2)
      if (fileSize < 54 || off + fileSize > p.length) return None
      val dataOff = bb.getInt(off + 10)
      val hdrSize = bb.getInt(off + 14)
      val w = bb.getInt(off + 18)
      val h = bb.getInt(off + 22)
      val bpp = bb.getShort(off + 28) & 0xffff
      val compression = bb.getInt(off + 30)
      // sign/overflow sanitization: negative dataOff or huge w/h would
      // wrap the bounds arithmetic and crash instead of returning None
      if (hdrSize < 40 || bpp != 24 || compression != 0 ||
        w <= 0 || h <= 0 || w > (1 << 15) || h > (1 << 15) ||
        dataOff < 54 || dataOff > p.length) return None
      val rowSize = ((3 * w + 3) / 4) * 4
      if (off.toLong + dataOff + rowSize.toLong * h > p.length) return None
      var sr = 0L; var sg = 0L; var sb = 0L
      var sl = 0.0; var sl2 = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        val base = off + dataOff + y * rowSize
        while (x < w) {
          val b = p(base + 3 * x) & 0xff
          val g = p(base + 3 * x + 1) & 0xff
          val r = p(base + 3 * x + 2) & 0xff
          sr += r; sg += g; sb += b
          val luma = 0.299 * r + 0.587 * g + 0.114 * b
          sl += luma; sl2 += luma * luma
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      val meanL = sl / n
      val varL = math.max(0.0, sl2 / n - meanL * meanL)
      val f = Array(
        (sr.toDouble / n / 255.0).toFloat,
        (sg.toDouble / n / 255.0).toFloat,
        (sb.toDouble / n / 255.0).toFloat,
        (math.sqrt(varL) / 255.0).toFloat,
        w / 1024.0f,
        h / 1024.0f,
        w.toFloat / h,
        0f
      )
      Some((f, fileSize))
    }

    /** RIFF/WAVE, PCM 16-bit. Features: rms, peak, zero-crossing rate,
      * mean |sample|, sampleRate/48k, channels, samples/1e5, fill.
      */
    private[pipeline] def decodeWav(p: Array[Byte]): Option[Array[Float]] = {
      if (p.length < 44 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
        p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E') return None
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var sampleRate = 0; var channels = 0; var bps = 0
      var dataOff = -1; var dataLen = 0
      while (pos + 8 <= p.length) {
        val id = new String(p, pos, 4, "US-ASCII")
        val len = bb.getInt(pos + 4)
        if (len < 0 || pos.toLong + 8 + len > p.length) return None // long math: no wrap
        id match {
          case "fmt " =>
            if (len < 16) return None
            val fmt = bb.getShort(pos + 8) & 0xffff
            if (fmt != 1) return None // PCM only
            channels = bb.getShort(pos + 10) & 0xffff
            sampleRate = bb.getInt(pos + 12)
            bps = bb.getShort(pos + 22) & 0xffff
          case "data" =>
            dataOff = pos + 8; dataLen = len
          case _ => // skip unknown chunk
        }
        pos += 8 + len + (len & 1)
      }
      if (dataOff < 0 || bps != 16 || channels < 1 || sampleRate <= 0) return None
      val n = dataLen / 2
      if (n == 0) return None
      var i = 0
      var sum2 = 0.0; var sumAbs = 0.0; var peak = 0; var zc = 0; var prev = 0
      while (i < n) {
        val s = bb.getShort(dataOff + 2 * i).toInt
        sum2 += s.toDouble * s; sumAbs += math.abs(s)
        if (math.abs(s) > peak) peak = math.abs(s)
        if (i > 0 && ((s >= 0) != (prev >= 0))) zc += 1
        prev = s
        i += 1
      }
      Some(Array(
        (math.sqrt(sum2 / n) / 32768.0).toFloat,
        (peak / 32768.0).toFloat,
        (zc.toDouble / n).toFloat,
        (sumAbs / n / 32768.0).toFloat,
        sampleRate / 48000.0f,
        channels.toFloat,
        n / 100000.0f,
        0f
      ))
    }

    /** MPEG audio Layer III (MP3) STATS-grade decode: a frame-header
      * walk — sync, version, bitrate/samplerate indices, padding —
      * yields frame count, exact duration, mean bitrate and a VBR flag
      * without any entropy/DCT work (the stats a 100 TB curation
      * pipeline filters on). Skips a leading ID3v2 tag (syncsafe size)
      * and tolerates a trailing ID3v1 block; any other mid-stream
      * garbage = corrupt → None. Features:
      * duration/60, meanKbps/320, sampleRate/48k, channels, frames/1e4,
      * isVbr, 0, 0.
      */
    private[pipeline] def decodeMp3Stats(p: Array[Byte]): Option[Array[Float]] = {
      // bitrate (kbps) tables, Layer III; index 0 ("free") and 15 invalid
      val brV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
      val brV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
      val srV1 = Array(44100, 48000, 32000, 0)
      val srV2 = Array(22050, 24000, 16000, 0)
      val srV25 = Array(11025, 12000, 8000, 0)
      var pos = 0
      // ID3v2: "ID3" <ver:2> <flags:1> <syncsafe size:4>; the v2.4
      // footer flag (bit 4) appends 10 bytes NOT counted in the size
      if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
        val sz = ((p(6) & 0x7f) << 21) | ((p(7) & 0x7f) << 14) | ((p(8) & 0x7f) << 7) | (p(9) & 0x7f)
        pos = 10 + sz + (if ((p(5) & 0x10) != 0) 10 else 0)
        if (pos >= p.length) return None
      }
      var frames = 0
      var durationSec = 0.0
      var kbpsSum = 0L
      var kbpsFirst = -1
      var vbr = false
      var channels = 0
      var sampleRate = 0
      while (pos + 4 <= p.length) {
        val b0 = p(pos) & 0xff; val b1 = p(pos + 1) & 0xff
        if (b0 == 0xff && (b1 & 0xe0) == 0xe0) {
          val version = (b1 >> 3) & 3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1 (1=reserved)
          val layer = (b1 >> 1) & 3 // 1 = Layer III
          if (version == 1 || layer != 1) return None
          val b2 = p(pos + 2) & 0xff
          val brIdx = (b2 >> 4) & 0xf
          val srIdx = (b2 >> 2) & 3
          val padding = (b2 >> 1) & 1
          val kbps = (if (version == 3) brV1 else brV2)(brIdx)
          val sr = version match {
            case 3 => srV1(srIdx); case 2 => srV2(srIdx); case _ => srV25(srIdx)
          }
          if (kbps == 0 || sr == 0) return None // "free"/bad indices: not stats-decodable
          val samplesPerFrame = if (version == 3) 1152 else 576
          val frameLen = samplesPerFrame / 8 * kbps * 1000 / sr + padding
          if (frameLen <= 4 || pos.toLong + frameLen > p.length) return None // truncated
          val mode = (p(pos + 3) >> 6) & 3
          channels = if (mode == 3) 1 else 2
          sampleRate = sr
          if (kbpsFirst < 0) kbpsFirst = kbps else if (kbps != kbpsFirst) vbr = true
          kbpsSum += kbps
          durationSec += samplesPerFrame.toDouble / sr
          frames += 1
          pos += frameLen
        } else if (p.length - pos == 128 && p(pos) == 'T' && p(pos + 1) == 'A' && p(pos + 2) == 'G') {
          pos = p.length // trailing ID3v1
        } else return None // mid-stream garbage: corrupt
      }
      if (frames == 0) return None
      Some(Array(
        (durationSec / 60.0).toFloat,
        (kbpsSum.toDouble / frames / 320.0).toFloat,
        sampleRate / 48000.0f,
        channels.toFloat,
        frames / 10000.0f,
        if (vbr) 1f else 0f,
        0f,
        0f
      ))
    }

    // ------------------------------------------- H.264 stats (Annex B)

    /** MSB-first bit reader with Exp-Golomb reads over an unescaped
      * RBSP. Overruns throw IndexOutOfBoundsException, which the decode
      * dispatcher maps to the corrupt-asset path.
      */
    private final class BitReader(b: Array[Byte]) {
      private var pos = 0
      def u1(): Int = { val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1; pos += 1; v }
      def u(n: Int): Int = { var v = 0; var i = 0; while (i < n) { v = (v << 1) | u1(); i += 1 }; v }
      def ue(): Int = {
        var zeros = 0
        while (u1() == 0) { zeros += 1; if (zeros > 31) throw new IndexOutOfBoundsException("ue too wide") }
        (1 << zeros) - 1 + u(zeros)
      }
      def se(): Int = { val k = ue(); if ((k & 1) == 1) (k + 1) / 2 else -(k / 2) }
    }

    /** Strip H.264 emulation-prevention bytes: 00 00 03 → 00 00. */
    private def unescapeRbsp(p: Array[Byte], from: Int, until: Int): Array[Byte] = {
      val out = new Array[Byte](until - from)
      var i = from; var o = 0; var zeros = 0
      while (i < until) {
        val b = p(i)
        if (zeros >= 2 && b == 3) zeros = 0 // drop the escape byte
        else { out(o) = b; o += 1; zeros = if (b == 0) zeros + 1 else 0 }
        i += 1
      }
      java.util.Arrays.copyOf(out, o)
    }

    private val HighProfiles = Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

    /** Full SPS parse (ITU-T H.264 §7.3.2.1.1): profile/level and the
      * exact coded resolution including frame cropping and chroma-
      * format-dependent crop units; scaling matrices are consumed
      * bit-exactly. Returns (width, height, profileIdc, levelIdc).
      */
    private def parseSps(rbsp: Array[Byte]): (Int, Int, Int, Int) = {
      val r = new BitReader(rbsp)
      val profile = r.u(8)
      r.u(8) // constraint flags + reserved_zero
      val level = r.u(8)
      r.ue() // seq_parameter_set_id
      var chromaFormat = 1 // default 4:2:0 when not signalled
      var separateColourPlane = 0
      if (HighProfiles.contains(profile)) {
        chromaFormat = r.ue()
        if (chromaFormat == 3) separateColourPlane = r.u1()
        r.ue(); r.ue(); r.u1() // bit depths, qpprime bypass
        if (r.u1() == 1) { // seq_scaling_matrix_present
          val lists = if (chromaFormat != 3) 8 else 12
          var i = 0
          while (i < lists) {
            if (r.u1() == 1) {
              val size = if (i < 6) 16 else 64
              var lastScale = 8; var nextScale = 8; var j = 0
              while (j < size) {
                if (nextScale != 0) nextScale = (lastScale + r.se() + 256) % 256
                lastScale = if (nextScale == 0) lastScale else nextScale
                j += 1
              }
            }
            i += 1
          }
        }
      }
      r.ue() // log2_max_frame_num_minus4
      val pocType = r.ue()
      if (pocType == 0) r.ue()
      else if (pocType == 1) {
        r.u1(); r.se(); r.se()
        val n = r.ue()
        var i = 0; while (i < n) { r.se(); i += 1 }
      }
      r.ue() // max_num_ref_frames
      r.u1() // gaps_in_frame_num_value_allowed
      val widthMbs = r.ue() + 1
      val heightMapUnits = r.ue() + 1
      val frameMbsOnly = r.u1()
      if (frameMbsOnly == 0) r.u1() // mb_adaptive_frame_field
      r.u1() // direct_8x8_inference
      var w = widthMbs * 16
      var h = (2 - frameMbsOnly) * heightMapUnits * 16
      if (r.u1() == 1) { // frame_cropping
        val chromaArrayType = if (separateColourPlane == 1) 0 else chromaFormat
        val (cropX, cropY) = chromaArrayType match {
          case 1 => (2, 2 * (2 - frameMbsOnly)) // 4:2:0
          case 2 => (2, 2 - frameMbsOnly) // 4:2:2
          case _ => (1, 2 - frameMbsOnly) // monochrome / 4:4:4
        }
        val cl = r.ue(); val cr = r.ue(); val ct = r.ue(); val cb = r.ue()
        w -= cropX * (cl + cr)
        h -= cropY * (ct + cb)
      }
      (w, h, profile, level)
    }

    /** H.264/AVC Annex-B elementary stream, STATS-grade: a NAL-unit
      * walk (start-code framing, forbidden-bit check) with a real
      * Exp-Golomb SPS parse for profile/level and exact coded
      * resolution, frames counted via each slice header's
      * first_mb_in_slice == 0 (so multi-slice pictures count once).
      * No entropy/DCT work — the resolution/frame/keyframe facts a
      * curation pipeline filters on. Requires ≥1 SPS and ≥1 slice.
      */
    private[pipeline] def decodeH264Stats(p: Array[Byte]): Option[Decoded] = {
      if (!isAnnexB(p)) return None
      def nextStart(from: Int): Int = {
        var j = from
        while (j + 2 < p.length) {
          if (p(j) == 0 && p(j + 1) == 0 && p(j + 2) == 1) return j
          j += 1
        }
        -1
      }
      var frames = 0; var idr = 0; var slices = 0
      var width = 0; var height = 0; var profile = 0; var level = 0
      var sawSps = false
      var sc = nextStart(0)
      while (sc >= 0) {
        val payloadStart = sc + 3
        val nxt = nextStart(payloadStart)
        val end = if (nxt < 0) p.length else nxt
        if (payloadStart >= end) return None
        val hdr = p(payloadStart) & 0xff
        if ((hdr & 0x80) != 0) return None // forbidden_zero_bit
        hdr & 0x1f match {
          case 7 =>
            val (w, h, pr, lv) = parseSps(unescapeRbsp(p, payloadStart + 1, end))
            if (w <= 0 || h <= 0) return None
            width = w; height = h; profile = pr; level = lv; sawSps = true
          case t @ (1 | 5) =>
            slices += 1
            if (t == 5) idr += 1
            // first_mb_in_slice is the slice header's leading ue —
            // 8 unescaped bytes bound any plausible value
            val head = unescapeRbsp(p, payloadStart + 1, math.min(end, payloadStart + 9))
            if (new BitReader(head).ue() == 0) frames += 1
          case _ => // PPS/SEI/AUD/...: framing only
        }
        sc = nxt
      }
      if (!sawSps || frames == 0) return None
      Some(Decoded(Array(
        width / 1024.0f,
        height / 1024.0f,
        width.toFloat / height,
        frames / 10000.0f,
        idr.toFloat / slices,
        profile / 255.0f,
        level / 255.0f,
        0f
      ), frames))
    }

    // ------------------------------------------------- Ogg/Opus stats

    /** Ogg-encapsulated Opus, STATS-grade: a real Ogg page walk —
      * lacing-table packet reassembly with continuation-flag
      * consistency checks — plus OpusHead parse (channels, pre-skip,
      * input rate, mapping family) and per-packet TOC framing.
      * Duration comes from BOTH the final granule position
      * (authoritative, 48 kHz units minus pre-skip) and the summed TOC
      * frame durations (cross-check feature). Page CRCs are not
      * verified — a stats walk, not a bit-exact demux. The first
      * min(255, len) bytes of any packet are page-contiguous (a packet
      * only spans pages via full 255-byte segments), so header and TOC
      * reads below are safely flat offsets.
      */
    private[pipeline] def decodeOggOpusStats(p: Array[Byte]): Option[Array[Float]] = {
      if (!isOgg(p)) return None
      val bb = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
      var pos = 0
      var packetIndex = 0 // 0=OpusHead, 1=OpusTags, ≥2 audio
      var packetStart = -1
      var packetLen = 0
      var channels = 0; var preSkip = 0; var inputRate = 0; var mappingFamily = -1
      var audioPackets = 0
      var tocQuarterMs = 0L
      var lastGranule = 0L
      var sawHead = false

      def endPacket(): Boolean = {
        if (packetStart < 0 || packetLen == 0) return false // empty packet: not stats-decodable
        if (packetIndex == 0) {
          if (packetLen < 19) return false
          if (!(p(packetStart) == 'O' && p(packetStart + 1) == 'p' && p(packetStart + 2) == 'u' &&
            p(packetStart + 3) == 's' && p(packetStart + 4) == 'H' && p(packetStart + 5) == 'e' &&
            p(packetStart + 6) == 'a' && p(packetStart + 7) == 'd')) return false
          if ((p(packetStart + 8) & 0xff) != 1) return false // encapsulation version
          channels = p(packetStart + 9) & 0xff
          preSkip = bb.getShort(packetStart + 10) & 0xffff
          inputRate = bb.getInt(packetStart + 12)
          mappingFamily = p(packetStart + 18) & 0xff
          sawHead = true
        } else if (packetIndex == 1) {
          if (packetLen < 8 || !(p(packetStart) == 'O' && p(packetStart + 1) == 'p' &&
            p(packetStart + 4) == 'T' && p(packetStart + 5) == 'a')) return false
        } else {
          audioPackets += 1
          val toc = p(packetStart) & 0xff
          val config = toc >>> 3
          val frameQuarterMs =
            if (config < 12) Array(40, 80, 160, 240)(config & 3) // SILK NB/MB/WB
            else if (config < 16) Array(40, 80)(config & 1) // hybrid SWB/FB
            else Array(10, 20, 40, 80)(config & 3) // CELT
          val nFrames = (toc & 3) match {
            case 0 => 1
            case 1 | 2 => 2
            case _ =>
              if (packetLen < 2) return false
              p(packetStart + 1) & 0x3f
          }
          tocQuarterMs += frameQuarterMs.toLong * nFrames
        }
        packetIndex += 1
        packetStart = -1; packetLen = 0
        true
      }

      var continued = false
      while (pos < p.length) {
        if (pos + 27 > p.length || p(pos) != 'O' || p(pos + 1) != 'g' || p(pos + 2) != 'g' || p(pos + 3) != 'S')
          return None
        if ((p(pos + 4) & 0xff) != 0) return None // stream structure version
        val headerType = p(pos + 5) & 0xff
        val granule = bb.getLong(pos + 6)
        val nSegs = p(pos + 26) & 0xff
        if (pos + 27 + nSegs > p.length) return None
        if (((headerType & 1) != 0) != continued) return None
        var body = pos + 27 + nSegs
        var s = 0
        while (s < nSegs) {
          val lac = p(pos + 27 + s) & 0xff
          if (body + lac > p.length) return None
          if (packetStart < 0) packetStart = body
          packetLen += lac
          body += lac
          if (lac < 255) { if (!endPacket()) return None }
          s += 1
        }
        if (nSegs > 0) continued = (p(pos + 27 + nSegs - 1) & 0xff) == 255
        if (granule != -1L) lastGranule = granule
        pos = body
      }
      if (!sawHead || continued || audioPackets == 0 || channels < 1) return None
      val granuleDurSec = math.max(0L, lastGranule - preSkip) / 48000.0
      Some(Array(
        (granuleDurSec / 60.0).toFloat,
        channels.toFloat,
        inputRate / 48000.0f,
        audioPackets / 10000.0f,
        preSkip / 48000.0f,
        mappingFamily.toFloat,
        (tocQuarterMs / 4000.0 / 60.0).toFloat,
        0f
      ))
    }

    /** Concatenated BMP frames; sample first/middle/last, average. */
    private[pipeline] def decodeBmpSequence(p: Array[Byte]): Option[Decoded] = {
      // scan pass: frame offsets via each BMP's self-declared fileSize
      var offs = List.newBuilder[Int]
      var off = 0
      var count = 0
      while (off + 54 <= p.length && p(off) == 'B' && p(off + 1) == 'M') {
        val size = ByteBuffer.wrap(p, off + 2, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
        if (size < 54 || off.toLong + size > p.length) return None // truncated frame (long math: no wrap)
        offs += off
        count += 1
        off += size
      }
      if (count == 0 || off != p.length) return None
      val frameOffs = offs.result()
      val sample = Seq(0, count / 2, count - 1).distinct.map(frameOffs(_))
      val feats = sample.map(o => decodeBmp(p, o) match {
        case Some((f, _)) => f
        case None => return None
      })
      val avg = new Array[Float](8)
      feats.foreach(f => (0 until 8).foreach(j => avg(j) += f(j) / feats.size))
      Some(Decoded(avg, count))
    }
  }

  // ------------------------------------------------- synthetic asset table

  /** Little-endian writer helpers. */
  private def putInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte; b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
  }
  private def putShort(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
  }

  /** A real 24-bit BMP whose pixels are a pure function of `seed`. */
  private[pipeline] def syntheticBmp(w: Int, h: Int, seed: Long): Array[Byte] = {
    val rowSize = ((3 * w + 3) / 4) * 4
    val size = 54 + rowSize * h
    val b = new Array[Byte](size)
    b(0) = 'B'; b(1) = 'M'
    putInt(b, 2, size); putInt(b, 10, 54); putInt(b, 14, 40)
    putInt(b, 18, w); putInt(b, 22, h)
    putShort(b, 26, 1); putShort(b, 28, 24)
    putInt(b, 34, rowSize * h)
    var s = seed
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s = s * 6364136223846793005L + 1442695040888963407L
        b(54 + y * rowSize + 3 * x) = (s >>> 40).toByte
        b(54 + y * rowSize + 3 * x + 1) = (s >>> 48).toByte
        b(54 + y * rowSize + 3 * x + 2) = (s >>> 56).toByte
        x += 1
      }
      y += 1
    }
    b
  }

  /** A raster whose pixels follow the SAME LCG draw order as
    * [[syntheticBmp]] — so a PNG and a BMP of equal (w, h, seed) carry
    * an identical pixel multiset and their integer channel means decode
    * bit-identically across the two codec paths.
    */
  private def syntheticRaster(w: Int, h: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var s = seed
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val b = ((s >>> 40) & 0xff).toInt
        val g = ((s >>> 48) & 0xff).toInt
        val r = ((s >>> 56) & 0xff).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeImage(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  /** A real PNG (JDK deflate encoder) with seed-deterministic pixels. */
  private[pipeline] def syntheticPng(w: Int, h: Int, seed: Long): Array[Byte] =
    encodeImage(syntheticRaster(w, h, seed), "png")

  /** A JDK-encoded BMP of the SAME raster as [[syntheticPng]] — unlike
    * the hand-rolled [[syntheticBmp]] (whose file rows are bottom-up,
    * i.e. a vertical flip of the raster), this is pixel-identical to
    * the PNG, which is what the perceptual-hash identity tests need.
    */
  private[pipeline] def syntheticBmpIo(w: Int, h: Int, seed: Long): Array[Byte] =
    encodeImage(syntheticRaster(w, h, seed), "bmp")

  /** A real baseline-JFIF JPEG (JDK encoder) with seed-deterministic pixels. */
  private[pipeline] def syntheticJpeg(w: Int, h: Int, seed: Long): Array[Byte] =
    encodeImage(syntheticRaster(w, h, seed), "jpg")

  /** A real PCM-16 mono WAV whose samples are a pure function of `seed`. */
  private[pipeline] def syntheticWav(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val dataLen = nSamples * 2
    val b = new Array[Byte](44 + dataLen)
    "RIFF".getBytes.copyToArray(b, 0)
    putInt(b, 4, 36 + dataLen)
    "WAVE".getBytes.copyToArray(b, 8)
    "fmt ".getBytes.copyToArray(b, 12)
    putInt(b, 16, 16); putShort(b, 20, 1); putShort(b, 22, 1)
    putInt(b, 24, sampleRate); putInt(b, 28, sampleRate * 2)
    putShort(b, 32, 2); putShort(b, 34, 16)
    "data".getBytes.copyToArray(b, 36)
    putInt(b, 40, dataLen)
    var s = seed
    var i = 0
    while (i < nSamples) {
      s = s * 6364136223846793005L + 1442695040888963407L
      // sine carrier + hash dither, all integer-deterministic
      val v = (math.sin(i * 2.0 * math.Pi / 64.0) * 12000).toInt + ((s >>> 56).toByte / 4)
      putShort(b, 44 + 2 * i, v)
      i += 1
    }
    b
  }

  /** MSB-first bit writer with an Exp-Golomb helper (SPS synthesis). */
  private final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def u1(v: Int): Unit = {
      cur = (cur << 1) | (v & 1); nbits += 1
      if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
    }
    def u(n: Int, v: Int): Unit = { var i = n - 1; while (i >= 0) { u1((v >> i) & 1); i -= 1 } }
    def ue(v: Int): Unit = {
      val vv = v + 1
      val bits = 32 - Integer.numberOfLeadingZeros(vv)
      var i = 0; while (i < bits - 1) { u1(0); i += 1 }
      u(bits, vv)
    }
    /** rbsp_stop_one_bit + byte alignment, then the accumulated bytes. */
    def rbspTrailing(): Array[Byte] = { u1(1); while (nbits != 0) u1(0); buf.toArray }
    /** pcm_alignment_zero_bit padding (I_PCM sample alignment). */
    def align(): Unit = while (nbits != 0) u1(0)
  }

  /** Insert H.264 emulation-prevention bytes: 00 00 0x (x ≤ 3) → 00 00 03 0x. */
  private def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i)
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3.toByte; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toArray
  }

  private def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    Array[Byte](0, 0, 0, 1, ((refIdc << 5) | nalType).toByte) ++ escapeRbsp(rbsp)

  /** A real (to the framing level) H.264 Annex-B stream: Baseline SPS
    * with the requested macroblock grid (odd seeds crop 2px right and
    * bottom), a minimal PPS, one IDR slice and `frames - 1` non-IDR
    * slices, each with first_mb_in_slice = 0 and deterministic filler
    * payload. Pure function of the arguments.
    */
  private[pipeline] def syntheticH264(wMbs: Int, hMbs: Int, frames: Int, seed: Long): Array[Byte] = {
    val crop = (seed & 1) == 1
    val sps = {
      val w = new BitWriter
      w.u(8, 66); w.u(8, 0); w.u(8, 30) // Baseline profile, level 3.0
      w.ue(0) // seq_parameter_set_id
      w.ue(0) // log2_max_frame_num_minus4
      w.ue(0) // pic_order_cnt_type = 0
      w.ue(0) // log2_max_pic_order_cnt_lsb_minus4
      w.ue(1) // max_num_ref_frames
      w.u1(0) // gaps_in_frame_num_value_allowed
      w.ue(wMbs - 1)
      w.ue(hMbs - 1)
      w.u1(1) // frame_mbs_only
      w.u1(1) // direct_8x8_inference
      if (crop) { w.u1(1); w.ue(0); w.ue(1); w.ue(0); w.ue(1) } // crop right+bottom by one 2px unit
      else w.u1(0)
      w.u1(0) // vui_parameters_present
      w.rbspTrailing()
    }
    val pps = {
      val w = new BitWriter
      w.ue(0); w.ue(0) // pps_id, sps_id
      w.u1(0); w.u1(0) // entropy_coding_mode (CAVLC), bottom_field_pic_order
      w.ue(0) // num_slice_groups_minus1
      w.ue(0); w.ue(0) // num_ref_idx_l0/l1_active_minus1
      w.u1(0); w.u(2, 0) // weighted_pred, weighted_bipred_idc
      w.ue(0); w.ue(0); w.ue(0) // init_qp/qs/chroma offsets (se(0) == ue(0) bit pattern)
      w.u1(0); w.u1(0); w.u1(0) // deblocking, constrained_intra, redundant_pic_cnt
      w.rbspTrailing()
    }
    var s = seed
    def slice(idr: Boolean, frameNum: Int): Array[Byte] = {
      val w = new BitWriter
      w.ue(0) // first_mb_in_slice
      w.ue(if (idr) 7 else 5) // slice_type (I / P, "all slices" form)
      w.ue(0) // pic_parameter_set_id
      w.u(4, frameNum & 0xf) // frame_num (log2_max_frame_num = 4)
      val head = w.rbspTrailing()
      val fill = new Array[Byte](16 + (frameNum % 16))
      var i = 0
      while (i < fill.length) { s = s * 6364136223846793005L + 1442695040888963407L; fill(i) = (s >>> 56).toByte; i += 1 }
      // deterministic raw start-code-shaped bytes: forces the
      // emulation-prevention escape path in every synthetic stream (a
      // NAL walk without unescaping would mis-frame here)
      head ++ fill ++ Array[Byte](0, 0, 1, 0, 0, 2)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    out ++= nal(3, 7, sps)
    out ++= nal(3, 8, pps)
    var f = 0
    while (f < frames) { out ++= nal(if (f == 0) 3 else 2, if (f == 0) 5 else 1, slice(f == 0, f)); f += 1 }
    out.toArray
  }

  /** A CONFORMANT H.264 Annex-B contract stream (unlike
    * [[syntheticH264]], whose slice payloads are framing-level filler a
    * real decoder would reject): Baseline SPS/PPS, one IDR whose
    * macroblocks are all I_PCM with every luma/chroma sample 128 (raw
    * samples, no entropy/DCT — uniform mid-gray, valid without an
    * encoder), then `frames - 1` P slices coded as one whole-picture
    * mb_skip_run (P_Skip's derived motion vector is zero here, so each
    * frame copies the reference exactly). A conformant sample decoder
    * MUST therefore produce `frames` identical uniform-gray rasters —
    * the SampleDecodeContractSpec native gate. Pure function of the
    * arguments.
    */
  private[pipeline] def contractH264IPcmSkip(wMbs: Int, hMbs: Int, frames: Int): Array[Byte] = {
    val sps = {
      val w = new BitWriter
      w.u(8, 66); w.u(8, 0); w.u(8, 30) // Baseline profile, level 3.0
      w.ue(0) // seq_parameter_set_id
      w.ue(0) // log2_max_frame_num_minus4 (frame_num is u(4))
      w.ue(0) // pic_order_cnt_type = 0
      w.ue(0) // log2_max_pic_order_cnt_lsb_minus4 (poc lsb is u(4))
      w.ue(1) // max_num_ref_frames
      w.u1(0) // gaps_in_frame_num_value_allowed
      w.ue(wMbs - 1)
      w.ue(hMbs - 1)
      w.u1(1) // frame_mbs_only
      w.u1(1) // direct_8x8_inference
      w.u1(0) // frame_cropping
      w.u1(0) // vui_parameters_present
      w.rbspTrailing()
    }
    val pps = {
      val w = new BitWriter
      w.ue(0); w.ue(0) // pps_id, sps_id
      w.u1(0); w.u1(0) // entropy_coding_mode (CAVLC), bottom_field_pic_order
      w.ue(0) // num_slice_groups_minus1
      w.ue(0); w.ue(0) // num_ref_idx_l0/l1_active_minus1
      w.u1(0); w.u(2, 0) // weighted_pred, weighted_bipred_idc
      w.ue(0); w.ue(0); w.ue(0) // init_qp/qs/chroma offsets (se(0) == ue(0))
      w.u1(0); w.u1(0); w.u1(0) // deblocking, constrained_intra, redundant_pic_cnt
      w.rbspTrailing()
    }
    def sliceHeader(w: BitWriter, idr: Boolean, frameNum: Int): Unit = {
      w.ue(0) // first_mb_in_slice
      w.ue(if (idr) 7 else 5) // slice_type (I / P, "all slices" form)
      w.ue(0) // pic_parameter_set_id
      w.u(4, frameNum & 0xf) // frame_num
      if (idr) w.ue(0) // idr_pic_id
      w.u(4, (2 * frameNum) & 0xf) // pic_order_cnt_lsb
      if (!idr) {
        w.u1(0) // num_ref_idx_active_override_flag
        w.u1(0) // ref_pic_list_modification_flag_l0
      }
      // dec_ref_pic_marking (nal_ref_idc != 0 on every slice here)
      if (idr) { w.u1(0); w.u1(0) } // no_output_of_prior_pics, long_term_reference
      else w.u1(0) // adaptive_ref_pic_marking_mode_flag
      w.ue(0) // slice_qp_delta: se(0) shares ue(0)'s bit pattern
    }
    val idr = {
      val w = new BitWriter
      sliceHeader(w, idr = true, frameNum = 0)
      var mb = 0
      while (mb < wMbs * hMbs) {
        w.ue(25) // mb_type I_PCM
        w.align() // pcm_alignment_zero_bit(s)
        var i = 0
        while (i < 256 + 128) { w.u(8, 128); i += 1 } // Y then Cb,Cr (4:2:0), all mid-gray
        mb += 1
      }
      w.rbspTrailing()
    }
    def pSlice(frameNum: Int): Array[Byte] = {
      val w = new BitWriter
      sliceHeader(w, idr = false, frameNum)
      w.ue(wMbs * hMbs) // mb_skip_run = the whole picture
      w.rbspTrailing()
    }
    (Seq(nal(3, 7, sps), nal(3, 8, pps), nal(3, 5, idr)) ++
      (1 until frames).map(f => nal(2, 1, pSlice(f)))).reduce(_ ++ _)
  }

  /** A real (framing-level) Ogg/Opus stream: BOS page with OpusHead,
    * an OpusTags page, then 20 ms CELT packets (TOC config 19, up to 50
    * per page) with correct lacing and cumulative granule positions;
    * EOS flag on the last page. Page CRCs are zero (the stats decoder
    * does not verify them). Pure function of the arguments.
    */
  private[pipeline] def syntheticOggOpus(packets: Int, seed: Long): Array[Byte] = {
    val channels = 1 + (seed % 2).toInt
    val preSkip = 312
    val head = new Array[Byte](19)
    "OpusHead".getBytes("US-ASCII").copyToArray(head, 0)
    head(8) = 1; head(9) = channels.toByte
    putShort(head, 10, preSkip); putInt(head, 12, 48000)
    // output gain 0 at 16-17, mapping family 0 at 18
    val tags = "OpusTags".getBytes("US-ASCII") ++ new Array[Byte](8) // empty vendor, 0 comments
    def page(headerType: Int, granule: Long, seq: Int, pkts: Seq[Array[Byte]]): Array[Byte] = {
      val lacing = pkts.flatMap { pk =>
        Seq.fill(pk.length / 255)(255) :+ pk.length % 255
      }
      require(lacing.length <= 255, "synthetic page overflow")
      val hdr = new Array[Byte](27 + lacing.length)
      "OggS".getBytes("US-ASCII").copyToArray(hdr, 0)
      hdr(5) = headerType.toByte
      var g = granule
      var i = 0
      while (i < 8) { hdr(6 + i) = (g & 0xff).toByte; g >>= 8; i += 1 }
      putInt(hdr, 14, 0x5eed01) // bitstream serial
      putInt(hdr, 18, seq)
      hdr(26) = lacing.length.toByte
      lacing.zipWithIndex.foreach { case (l, j) => hdr(27 + j) = l.toByte }
      hdr ++ pkts.flatten
    }
    val toc = ((19 << 3) | ((channels - 1) << 2)).toByte // CELT NB 20 ms, code 0
    var s = seed
    val audio = (0 until packets).map { i =>
      val b = new Array[Byte](1 + 10 + (i % 50))
      b(0) = toc
      var j = 1
      while (j < b.length) { s = s * 6364136223846793005L + 1442695040888963407L; b(j) = (s >>> 56).toByte; j += 1 }
      b
    }
    val pages = scala.collection.mutable.ArrayBuffer(
      page(0x02, 0, 0, Seq(head)), // BOS
      page(0, 0, 1, Seq(tags)))
    var done = 0
    var seq = 2
    while (done < packets) {
      val n = math.min(50, packets - done)
      val last = done + n == packets
      pages += page(if (last) 0x04 else 0, preSkip.toLong + 960L * (done + n), seq, audio.slice(done, done + n))
      done += n; seq += 1
    }
    pages.toArray.flatten
  }

  /** Deterministic synthetic asset table with REAL payloads, rotating
    * formats per modality (image: BMP / PNG / JPEG; video: BMP-sequence
    * / MJPEG / H.264 Annex-B; audio: WAV / Ogg-Opus) — pure function of
    * asset_id. ~1/16 assets are corrupt: empty or truncated payloads
    * the decoders must flag, not crash on.
    */
  def syntheticAssets(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[AssetRow] = {
    import spark.implicits._
    val kinds = Array("image", "audio", "video")
    spark.range(0, n, 1, partitions).map { id =>
      val kind = kinds((id % 3).toInt)
      val w = 8 + (id % 9).toInt
      val h = 8 + (id % 5).toInt
      val frames = 1 + (id % 4).toInt
      val full: Array[Byte] = kind match {
        case "image" => ((id / 3) % 3) match {
          case 0 => syntheticBmp(w, h, id)
          case 1 => syntheticPng(w, h, id)
          case _ => syntheticJpeg(w, h, id)
        }
        case "audio" =>
          if ((id / 3) % 2 == 0) syntheticWav(256 + (id % 1024).toInt, 16000, id)
          else syntheticOggOpus(1 + (id % 60).toInt, id)
        case _ => ((id / 3) % 3) match {
          case 0 => (0 until frames).map(f => syntheticBmp(w, h, id * 31 + f)).reduce(_ ++ _)
          case 1 => (0 until frames).map(f => syntheticJpeg(w, h, id * 31 + f)).reduce(_ ++ _)
          case _ => syntheticH264(1 + (id % 3).toInt, 1 + (id % 2).toInt, frames, id)
        }
      }
      val payload =
        if (id % 16 == 15) Array.emptyByteArray // corrupt: empty
        else if (id % 16 == 7) full.take(full.length / 2) // corrupt: truncated
        else full
      AssetRow(id, s"http://test.example/asset/$id", kind, payload,
        width = w, height = h,
        durationMs = if (kind == "video") frames * 1000 else 0)
    }
  }

  /** Decode + feature-extract stage: mapPartitions over the binary
    * column (the Scala-engine equivalent of a mapInPandas batch UDF) —
    * bounded memory per task, corrupt assets flagged not fatal.
    */
  def extractFeatures(assets: Dataset[AssetRow], decoder: AssetDecoder = PureJvmDecoder): Dataset[AssetFeatures] = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        decoder.decode(a.kind, a.payload, a.width, a.height, a.durationMs) match {
          case Some(d) => AssetFeatures(a.asset_id, a.kind, ok = true, d.features, d.frames)
          case None => AssetFeatures(a.asset_id, a.kind, ok = false, Array.empty, 0)
        }
      }
    }
  }

  /** Relational summary over extracted features (joins the asset and
    * feature tables; demonstrates the downstream-consumption shape).
    */
  def featureSummary(assets: Dataset[AssetRow], decoder: AssetDecoder = PureJvmDecoder) = {
    val feats = extractFeatures(assets, decoder)
    feats.groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_decoded"),
        sum(col("frames").cast("long")).as("total_frames"))
      .orderBy(col("kind"))
  }

  /** A SMOOTH seed-deterministic raster (low-frequency 2D sinusoid
    * mix, grayscale): the texture class JPEG preserves almost exactly
    * — the right fixture for lossy re-encode perceptual-hash tests,
    * where [[syntheticRaster]]'s white noise is the adversarial
    * worst case (every 8×8 block is pure high frequency; measured
    * dHash hamming up to 8 across a JPEG round-trip vs ≤2 here).
    */
  private[pipeline] def syntheticSmoothRaster(w: Int, h: Int, seed: Long): BufferedImage = {
    // bilinear value noise: seed-random levels on an 8-px lattice,
    // interpolated (4-px lattice, at the dHash sampling scale) — smooth
    // features JPEG keeps, per-seed layout
    // dHash separates (integer math only; pure function of seed)
    var s = seed
    def next(): Int = { s = s * 6364136223846793005L + 1442695040888963407L; ((s >>> 40) & 0xff).toInt }
    val gw = w / 4 + 2
    val gh = h / 4 + 2
    val grid = Array.fill(gh, gw)(next())
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val gy = y / 4; val fy = y % 4
      var x = 0
      while (x < w) {
        val gx = x / 4; val fx = x % 4
        val v = ((4 - fx) * (4 - fy) * grid(gy)(gx) + fx * (4 - fy) * grid(gy)(gx + 1) +
          (4 - fx) * fy * grid(gy + 1)(gx) + fx * fy * grid(gy + 1)(gx + 1)) / 16
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  private[pipeline] def syntheticSmoothBmp(w: Int, h: Int, seed: Long): Array[Byte] =
    encodeImage(syntheticSmoothRaster(w, h, seed), "bmp")

  private[pipeline] def syntheticSmoothJpeg(w: Int, h: Int, seed: Long): Array[Byte] =
    encodeImage(syntheticSmoothRaster(w, h, seed), "jpg")

  /** [[noisyBmp]] over the smooth raster. */
  private[pipeline] def noisySmoothBmp(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = syntheticSmoothRaster(w, h, seed)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        if ((x + y) % 3 == 0) img.setRGB(x, y, img.getRGB(x, y) ^ 0x010101)
        x += 1
      }
      y += 1
    }
    encodeImage(img, "bmp")
  }

  /** An amplitude-modulated PCM-16 mono WAV: sine carrier whose
    * amplitude steps to a fresh seed-derived level every 64 samples —
    * a pseudo-random envelope walk, the non-stationary shape real
    * program audio has (a flat tone has no envelope for a fingerprint
    * to grip). Pure function of `seed`.
    */
  private[pipeline] def syntheticAmWav(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val dataLen = nSamples * 2
    val b = new Array[Byte](44 + dataLen)
    "RIFF".getBytes.copyToArray(b, 0)
    putInt(b, 4, 36 + dataLen)
    "WAVE".getBytes.copyToArray(b, 8)
    "fmt ".getBytes.copyToArray(b, 12)
    putInt(b, 16, 16); putShort(b, 20, 1); putShort(b, 22, 1)
    putInt(b, 24, sampleRate); putInt(b, 28, sampleRate * 2)
    putShort(b, 32, 2); putShort(b, 34, 16)
    "data".getBytes.copyToArray(b, 36)
    putInt(b, 40, dataLen)
    var s = seed
    var amp = 8000
    var i = 0
    while (i < nSamples) {
      if (i % 64 == 0) {
        s = s * 6364136223846793005L + 1442695040888963407L
        amp = 1000 + (((s >>> 48) & 0x3fff).toInt) // 1000..17383
      }
      val v = (math.sin(i * 2.0 * math.Pi / 32.0) * amp).toInt
      putShort(b, 44 + 2 * i, v)
      i += 1
    }
    b
  }

  /** The same WAV bytes with the low bit of every fifth sample's low
    * byte flipped — a deterministic LSB-dither twin whose energy
    * envelope (and so its fingerprint) stays within a couple of bits.
    */
  private[pipeline] def noisyWav(base: Array[Byte]): Array[Byte] = {
    val b = base.clone()
    var i = 44
    while (i < b.length) { b(i) = (b(i) ^ 1).toByte; i += 10 }
    b
  }

  /** A BMP re-encode of raster(seed) with the blue low bit flipped on
    * every third pixel — a deterministic "slightly edited" twin whose
    * dHash stays within a bit or two of the original's.
    */
  private[pipeline] def noisyBmp(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = syntheticRaster(w, h, seed)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if ((x + y) % 3 == 0) img.setRGB(x, y, img.getRGB(x, y) ^ 1)
        x += 1
      }
      y += 1
    }
    encodeImage(img, "bmp")
  }

  /** Deterministic synthetic IMAGE corpus with planted perceptual
    * near-dups, id triples per group g = id div 3: a BMP of
    * raster(g), a PNG re-encode of the SAME pixels (dHash-identical),
    * and — even groups — a noise-twin BMP (near-dup) / odd groups —
    * an unrelated image (negative). ~1/16 corrupt, as in
    * [[syntheticAssets]].
    */
  def syntheticImageCorpus(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[AssetRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { id =>
      val g = id / 3
      val w = 16 + (g % 9).toInt
      val h = 12 + (g % 5).toInt
      val full: Array[Byte] = (id % 3) match {
        case 0 => syntheticBmpIo(w, h, g)
        case 1 => syntheticPng(w, h, g)
        case _ =>
          if (g % 2 == 0) noisyBmp(w, h, g)
          else syntheticBmpIo(w, h, g + 777777L)
      }
      val payload = if (id % 16 == 15) full.take(8) else full
      AssetRow(id, s"http://test.example/img/$id", "image", payload, w, h, 0)
    }
  }

  /** Deterministic synthetic AUDIO corpus with planted near-dups, the
    * [[syntheticImageCorpus]] layout: per group g = id div 3 an AM
    * WAV, an exact byte duplicate, and (even groups) an LSB-dither
    * twin / (odd groups) an unrelated clip. ~1/16 corrupt.
    */
  def syntheticAudioCorpus(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[AssetRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { id =>
      val g = id / 3
      val len = 4096 + (g % 7).toInt * 512
      val full: Array[Byte] = (id % 3) match {
        case 0 => syntheticAmWav(len, 16000, g)
        case 1 => syntheticAmWav(len, 16000, g) // exact duplicate content
        case _ =>
          if (g % 2 == 0) noisyWav(syntheticAmWav(len, 16000, g))
          else syntheticAmWav(len, 16000, g + 999999L)
      }
      val payload = if (id % 16 == 15) full.take(20) else full
      AssetRow(id, s"http://test.example/audio/$id", "audio", payload, 0, 0,
        durationMs = len * 1000 / 16000)
    }
  }

  /** Per-asset audio fingerprints over the binary column — the audio
    * analogue of [[imagePhash]]; output shape matches, so
    * [[phashNearDup]]'s pigeonhole pair recovery applies unchanged.
    */
  def audioFingerprint(assets: Dataset[AssetRow]): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val hOpt = if (a.kind == "audio") PureJvmDecoder.audioFingerprint64(a.payload) else None
        (a.asset_id, hOpt.isDefined, hOpt.getOrElse(0L))
      }
    }.toDF("asset_id", "ok", "phash")
  }

  /** Deterministic synthetic VIDEO corpus with planted near-dups, the
    * [[syntheticImageCorpus]] layout: per group g a BMP-frame sequence
    * of raster frames, an MJPEG re-encode of the SAME frames (lossy —
    * per-frame dHash lands within a few bits), and (even groups) a
    * noise-twin sequence / (odd groups) an unrelated clip. ~1/16
    * corrupt.
    */
  def syntheticVideoCorpus(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[AssetRow] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { id =>
      val g = id / 3
      val w = 24 + (g % 5).toInt
      val h = 16 + (g % 3).toInt
      val nf = 3 + (g % 3).toInt
      def seq(mk: Long => Array[Byte], base: Long) =
        (0 until nf).map(f => mk(base * 31 + f)).reduce(_ ++ _)
      val full: Array[Byte] = (id % 3) match {
        case 0 => seq(sd => syntheticSmoothBmp(w, h, sd), g)
        case 1 => seq(sd => syntheticSmoothJpeg(w, h, sd), g)
        case _ =>
          if (g % 2 == 0) seq(sd => noisySmoothBmp(w, h, sd), g)
          else seq(sd => syntheticSmoothBmp(w, h, sd), g + 777777L)
      }
      val payload = if (id % 16 == 15) full.take(30) else full
      AssetRow(id, s"http://test.example/video/$id", "video", payload, w, h,
        durationMs = nf * 1000)
    }
  }

  /** Per-asset sampled-frame video fingerprints — one row per sampled
    * frame (up to 3), so [[phashNearDup]] candidates fire when ANY
    * sampled frame collides; collapse pairs with a min-hamming groupBy
    * (see [[videoNearDup]]).
    */
  def videoPhashes(assets: Dataset[AssetRow]): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        val hs = if (a.kind == "video") PureJvmDecoder.videoPhash64s(a.payload) else Nil
        if (hs.isEmpty) Seq((a.asset_id, false, 0L))
        else hs.map(h => (a.asset_id, true, h))
      }
    }.toDF("asset_id", "ok", "phash")
  }

  /** Video near-dup: the shared pigeonhole pair recovery over
    * [[videoPhashes]], collapsed to each pair's best (minimum) frame
    * hamming — multi-row fingerprints would otherwise emit one row per
    * colliding frame combination.
    */
  def videoNearDup(assets: Dataset[AssetRow], maxHamming: Int = 4, maxBucket: Int = 2000): DataFrame =
    phashNearDup(videoPhashes(assets), maxHamming, maxBucket)
      .groupBy(col("a"), col("b"))
      .agg(min(col("hamming")).as("hamming"))

  /** Per-asset perceptual hashes over the binary image column:
    * mapPartitions decode (bounded memory per task — the multimodal
    * batch-UDF shape), corrupt payloads flagged `ok = false`, never
    * fatal. One scan, no shuffle.
    */
  def imagePhash(assets: Dataset[AssetRow]): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val hOpt = if (a.kind == "image") PureJvmDecoder.dHash64(a.payload) else None
        (a.asset_id, hOpt.isDefined, hOpt.getOrElse(0L))
      }
    }.toDF("asset_id", "ok", "phash")
  }

  /** Perceptual-hash image near-dup — the multimodal member of the
    * near-dup family (q16 simhash is the text analogue; identical
    * scale shape): 8 × 8-bit chunk pigeonhole (any pair within
    * hamming ≤ 7 shares at least one chunk, so `maxHamming` must stay
    * ≤ 7), hot-chunk suppression (a monochrome-meme chunk value
    * never degenerates into an all-pairs join), id-only transport,
    * distinct pairs, codegen'd popcount verify. Never all-pairs.
    */
  def phashNearDup(hashes: DataFrame, maxHamming: Int = 4, maxBucket: Int = 2000): DataFrame = {
    require(maxHamming <= 7, "the 8-chunk pigeonhole only guarantees hamming <= 7")
    Dedup.hammingPairs(hashes.where(col("ok")), "asset_id", "phash", chunks = 8, maxHamming, maxBucket)
  }
}
