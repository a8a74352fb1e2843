package graft.llm

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for a training-data
  * pipeline: payloads travel as opaque `binary` columns with typed
  * metadata, the reference's geometry-as-binary convention (SURVEY.md
  * §1.3) generalized.
  *
  * The heavy per-row work runs in `Dataset.mapPartitions` with
  * per-partition initialization — the JVM-native equivalent of a
  * pandas-UDF/`mapInPandas` batch (the reference's vectorization
  * boundary, `udf_tools.py:216-244`): decoder state is allocated once
  * per partition, rows stream through it, and nothing touches the
  * driver. At scale the pipeline is embarrassingly parallel — no
  * shuffle until a caller aggregates.
  *
  * Two REAL container codecs exist — BMP ([[decodeBmp]]: magic +
  * BITMAPINFOHEADER dims at bytes 18–25; [[resizeBmp]]: genuine
  * nearest-neighbor pixel resample; [[bmpBandSums]]: decoded-pixel
  * features) and WAV ([[decodeWav]]: RIFF chunk walk for fmt/data;
  * [[wavBandEnergies]]: decoded-PCM band energies) — dispatched by
  * media type in [[decode]]/[[resize]]/[[bandEnergies]], with matching
  * spec-compliant writers for fixture synthesis. For every OTHER
  * format (JPEG/PNG/MP4/... need codec libraries this environment
  * lacks), [[decodeDims]]/[[featureVector]] remain clearly-marked
  * deterministic stubs; the Spark-side contract — schemas, encoders,
  * partition amortization, null behavior — is the same either way.
  */
object Multimodal {

  /** Opaque payload row: the storage convention. */
  final case class MediaPayload(id: Long, mediaType: String, content: Array[Byte])

  /** Typed metadata extracted from a payload. */
  final case class MediaMeta(
      id: Long,
      mediaType: String,
      width: Int,
      height: Int,
      nFrames: Int,
      nBytes: Long,
      fingerprint: String)

  /** STUB decode for formats without an in-repo parser — derives
    * plausible dimensions deterministically from the payload size.
    * Mirrorable in any engine, which lets the oracle check the
    * surrounding pipeline; real parsing exists for BMP/WAV below. */
  def decodeDims(content: Array[Byte]): (Int, Int) =
    ((content.length % 640) + 1, ((content.length * 7) % 480) + 1)

  /** STUB frame count: one frame per 1000 payload bytes. */
  def frameCount(content: Array[Byte]): Int = content.length / 1000 + 1

  // ---------------- real container codecs ----------------

  /** BMP row stride: 24bpp rows padded to 4-byte boundaries (the spec's
    * `((w*3 + 3) / 4) * 4`). */
  def bmpRowSize(width: Int): Int = ((width * 3 + 3) / 4) * 4

  /** Spec-compliant minimal BMP writer: BITMAPFILEHEADER (14 bytes) +
    * BITMAPINFOHEADER (40 bytes), 24bpp bottom-up BI_RGB, rows padded
    * to 4 bytes, deterministic pixel bytes. Used to synthesize REAL
    * image payloads in fixtures and queries. */
  /** 54-byte BMP header (BITMAPFILEHEADER + BITMAPINFOHEADER) for a
    * 24bpp bottom-up BI_RGB file — shared by the fixture writer and
    * the real resampler so both emit identical layouts. */
  private def putBmpHeader(buf: ByteBuffer, width: Int, height: Int, dataSize: Int): Unit = {
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize)
    buf.putInt(0)                    // reserved
    buf.putInt(54)                   // pixel array offset
    buf.putInt(40)                   // BITMAPINFOHEADER size
    buf.putInt(width)
    buf.putInt(height)               // positive: bottom-up
    buf.putShort(1)                  // planes
    buf.putShort(24)                 // bits per pixel
    buf.putInt(0)                    // BI_RGB (uncompressed)
    buf.putInt(dataSize)
    buf.putInt(2835)                 // 72 dpi in px/metre
    buf.putInt(2835)
    buf.putInt(0)                    // palette colors
    buf.putInt(0)                    // important colors
  }

  def encodeBmp(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0, "BMP dims must be positive")
    val rowSize = bmpRowSize(width)
    val dataSize = rowSize * height
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    putBmpHeader(buf, width, height, dataSize)
    var i = 0
    while (i < dataSize) { buf.put((i % 251).toByte); i += 1 }
    buf.array()
  }

  /** REAL BMP header parse: "BM" magic, declared file size must match
    * the payload, BITMAPINFOHEADER (or longer V4/V5) at offset 14,
    * int32-LE width at 18 and height at 22 (negative height = top-down
    * row order; dimensions are reported positive). Returns None for
    * anything structurally invalid — null-on-failure, the engine's
    * standard malformed-input contract (SURVEY §1.3). */
  def decodeBmp(content: Array[Byte]): Option[(Int, Int)] = {
    if (content == null || content.length < 54) return None
    if (content(0) != 'B'.toByte || content(1) != 'M'.toByte) return None
    val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt(2) != content.length) return None
    val headerSize = buf.getInt(14)
    if (headerSize < 40) return None // BITMAPCOREHEADER not supported
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    if (w <= 0 || h == 0 || h == Int.MinValue) return None
    Some((w, math.abs(h)))
  }

  /** Validated pixel-array layout of a 24bpp uncompressed BMP — the
    * precondition every pixel-level operation below shares. None if
    * the header is invalid, the format isn't 24bpp BI_RGB, or the
    * declared pixel array overruns the payload. */
  private final case class BmpPixels(
      w: Int, h: Int, pixelOff: Int, stride: Int, topDown: Boolean) {
    /** File offset of channel `c` of image-space pixel (x, y) —
      * image space has origin top-left regardless of row order. */
    def offset(x: Int, y: Int, c: Int): Int = {
      val fileRow = if (topDown) y else h - 1 - y
      pixelOff + fileRow * stride + x * 3 + c
    }
  }

  private def bmpPixelLayout(content: Array[Byte]): Option[BmpPixels] =
    decodeBmp(content).flatMap { case (w, h) =>
      val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
      val pixelOff = buf.getInt(10)
      val bpp = buf.getShort(28)
      val comp = buf.getInt(30)
      // stride math in Long FIRST: a hostile width near Int.MaxValue
      // wraps `w*3` in Int space, making bmpRowSize tiny and turning
      // the pixel-array bounds check into a no-op — the same int-wrap
      // class wavLayout guards against. Reject before narrowing.
      val strideL = (w.toLong * 3 + 3) / 4 * 4
      if (bpp != 24 || comp != 0) None
      else if (strideL > Int.MaxValue) None
      else if (pixelOff < 54 || pixelOff.toLong + strideL * h > content.length) None
      else Some(BmpPixels(w, h, pixelOff, strideL.toInt, buf.getInt(22) < 0))
    }

  /** REAL nearest-neighbor BMP resample: decode the source pixel
    * array, sample in image space (target pixel (tx, ty) reads source
    * pixel (⌊tx·w/tw⌋, ⌊ty·h/th⌋) — pure integer arithmetic, so the
    * oracle can replay it exactly), re-encode bottom-up with spec row
    * padding. Handles top-down sources; None for anything that is not
    * a structurally valid 24bpp uncompressed BMP. */
  def resizeBmp(content: Array[Byte], targetW: Int, targetH: Int): Option[Array[Byte]] = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    // target dims are caller parameters, not data — overflow is a
    // caller bug and fails loudly (the same Int-wrap class the source
    // side rejects with None in bmpPixelLayout)
    require(54L + (targetW.toLong * 3 + 3) / 4 * 4 * targetH <= Int.MaxValue,
      s"target $targetW x $targetH overflows the BMP file size")
    bmpPixelLayout(content).map { src =>
      val outStride = bmpRowSize(targetW)
      val buf = ByteBuffer.allocate(54 + outStride * targetH)
        .order(ByteOrder.LITTLE_ENDIAN)
      putBmpHeader(buf, targetW, targetH, outStride * targetH)
      val out = buf.array()
      var ty = 0
      while (ty < targetH) {
        val sy = (ty.toLong * src.h / targetH).toInt
        val outRowStart = 54 + (targetH - 1 - ty) * outStride // bottom-up
        var tx = 0
        while (tx < targetW) {
          val sx = (tx.toLong * src.w / targetW).toInt
          val so = src.offset(sx, sy, 0)
          val to = outRowStart + tx * 3
          out(to) = content(so); out(to + 1) = content(so + 1); out(to + 2) = content(so + 2)
          tx += 1
        }
        ty += 1
      }
      out
    }
  }

  /** Decoded-pixel band sums of a 24bpp BMP: the pixel-channel byte
    * stream in image order (row-major, top-left origin, B,G,R per
    * pixel — padding excluded) is split into `bands` contiguous slices
    * `[b·n/bands, (b+1)·n/bands)` and each slice sums its unsigned
    * byte values. The image counterpart of [[wavBandEnergies]] — a
    * feature computed from genuinely DECODED samples, unlike the FNV
    * stub ([[featureVector]]) that hashes raw container bytes. */
  /** 64-bit difference hash (dHash) of a 24bpp BMP, as a 64-char bit
    * string: nearest-neighbor-sample a 9×8 grid in image space (the
    * [[resizeBmp]] arithmetic — pure integer, oracle-replayable),
    * gray = R+G+B per sample, and each row's 8 bits are the
    * left-to-right gradient signs. The PERCEPTUAL identity q65's
    * byte-level content key cannot give: small pixel edits move
    * sums, not gradient signs, so re-encoded or lightly-edited
    * copies keep their hash (measured, not asserted, by q247). A bit
    * STRING rather than a packed BIGINT so cross-engine equality
    * needs no sign-bit gymnastics. None on anything [[decodeBmp]]
    * rejects. */
  def dHashBits(content: Array[Byte]): Option[String] =
    bmpPixelLayout(content).map { src =>
      val sb = new java.lang.StringBuilder(64)
      var ty = 0
      while (ty < 8) {
        val sy = ty * src.h / 8
        val gs = new Array[Int](9)
        var tx = 0
        while (tx < 9) {
          val sx = tx * src.w / 9
          val o = src.offset(sx, sy, 0)
          gs(tx) = (content(o) & 0xff) + (content(o + 1) & 0xff) +
            (content(o + 2) & 0xff)
          tx += 1
        }
        tx = 0
        while (tx < 8) {
          sb.append(if (gs(tx) > gs(tx + 1)) '1' else '0')
          tx += 1
        }
        ty += 1
      }
      sb.toString
    }

  /** Deterministic pixel noise — the "edited copy" fixture for the
    * q247 stability card: +`delta` (mod 256) to every pixel-array
    * byte whose data index is ≡ 0 (mod `step`). `delta`=1 on a
    * sparse step is the light-touch edit a perceptual hash should
    * shrug off; a large delta on a dense step is real corruption it
    * should NOT survive (the card measures both). Header untouched;
    * None for anything that is not a valid 24bpp BMP. */
  def perturbBmp(content: Array[Byte], step: Int,
      delta: Int = 1): Option[Array[Byte]] = {
    require(step > 0, "step must be positive")
    bmpPixelLayout(content).map { src =>
      val out = content.clone()
      val dataLen = src.stride * src.h
      var i = 0
      while (i < dataLen) {
        if (i % step == 0) {
          val off = src.pixelOff + i
          out(off) = (((content(off) & 0xff) + delta) % 256).toByte
        }
        i += 1
      }
      out
    }
  }

  def bmpBandSums(content: Array[Byte], bands: Int): Option[Array[Long]] = {
    require(bands > 0, "bands must be positive")
    bmpPixelLayout(content).map { src =>
      val n = src.w.toLong * src.h * 3
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var idx = b * n / bands
        val hi = (b + 1) * n / bands
        var acc = 0L
        while (idx < hi) {
          val i = idx.toInt
          val y = i / (src.w * 3)
          val rem = i % (src.w * 3)
          acc += (content(src.offset(rem / 3, y, rem % 3)) & 0xff).toLong
          idx += 1
        }
        out(b) = acc
        b += 1
      }
      out
    }
  }

  /** Typed metadata of a parsed WAV payload; `nFrames` = samples per
    * channel. */
  final case class WavInfo(sampleRate: Int, nChannels: Int,
      bitsPerSample: Int, nFrames: Int)

  /** Spec-compliant minimal WAV writer: RIFF/WAVE with a 16-byte PCM
    * fmt chunk and a data chunk of 16-bit LE samples (deterministic
    * sawtooth). `nFrames` = samples per channel. */
  def encodeWav(sampleRate: Int, nChannels: Int, nFrames: Int): Array[Byte] = {
    require(sampleRate > 0 && nChannels > 0 && nFrames >= 0, "invalid WAV params")
    val dataSize = nFrames * nChannels * 2
    val fileSize = 44 + dataSize
    val buf = ByteBuffer.allocate(fileSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII"))
    buf.putInt(fileSize - 8)               // RIFF chunk size
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII"))
    buf.putInt(16)                         // PCM fmt chunk size
    buf.putShort(1)                        // audio format: PCM
    buf.putShort(nChannels.toShort)
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * nChannels * 2) // byte rate
    buf.putShort((nChannels * 2).toShort)  // block align
    buf.putShort(16)                       // bits per sample
    buf.put("data".getBytes("US-ASCII"))
    buf.putInt(dataSize)
    var i = 0
    while (i < nFrames * nChannels) {
      buf.putShort(((i * 257) % 65536 - 32768).toShort)
      i += 1
    }
    buf.array()
  }

  /** REAL WAV parse: RIFF/WAVE magic, then a chunk WALK (id + size,
    * data padded to even offsets) collecting the PCM `fmt ` fields and
    * the `data` size — so files carrying extra chunks (LIST metadata
    * etc.) parse correctly, not just the minimal 44-byte layout.
    * Returns None for structurally invalid payloads. */
  /** Validated WAV layout: fmt fields plus the data chunk's position —
    * the shared chunk walk behind [[decodeWav]] and
    * [[wavBandEnergies]]. */
  private final case class WavLayout(
      sampleRate: Int, nChannels: Int, bitsPerSample: Int,
      dataOff: Int, dataSize: Int)

  private def wavLayout(content: Array[Byte]): Option[WavLayout] = {
    if (content == null || content.length < 44) return None
    val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    def fourCC(off: Int): String =
      new String(content, off, 4, "US-ASCII")
    if (fourCC(0) != "RIFF" || fourCC(8) != "WAVE") return None
    if (buf.getInt(4) != content.length - 8) return None
    // chunk-walk arithmetic is in Long: a hostile declared size near
    // Int.MaxValue would wrap `off + 8 + size` in Int math, turn the
    // bounds check into a no-op, and crash the scan — malformed inputs
    // must return None, never throw, on a 100 TB read
    var off = 12L
    var fmt: Option[(Int, Int, Int)] = None // (channels, rate, bits)
    var dataOff = -1
    var dataSize = -1
    while (off + 8 <= content.length && (fmt.isEmpty || dataSize < 0)) {
      val id = fourCC(off.toInt)
      val size = buf.getInt(off.toInt + 4)
      if (size < 0 || off + 8L + size > content.length) return None
      if (id == "fmt ") {
        if (size < 16) return None
        val audioFormat = buf.getShort(off.toInt + 8)
        if (audioFormat != 1) return None // PCM only
        fmt = Some((buf.getShort(off.toInt + 10).toInt, buf.getInt(off.toInt + 12),
          buf.getShort(off.toInt + 22).toInt))
      } else if (id == "data") {
        dataOff = off.toInt + 8
        dataSize = size
      }
      off += 8L + size + (size % 2) // chunks are word-aligned
    }
    fmt match {
      case Some((ch, rate, bits)) if dataSize >= 0 && ch > 0 && bits > 0 =>
        Some(WavLayout(rate, ch, bits, dataOff, dataSize))
      case _ => None
    }
  }

  def decodeWav(content: Array[Byte]): Option[WavInfo] =
    wavLayout(content).flatMap { l =>
      val bytesPerFrame = l.nChannels * (l.bitsPerSample / 8)
      if (bytesPerFrame <= 0) None
      else Some(WavInfo(l.sampleRate, l.nChannels, l.bitsPerSample,
        l.dataSize / bytesPerFrame))
    }

  /** Decoded-PCM band energies of a 16-bit WAV: the interleaved sample
    * stream (n = dataSize/2 samples, signed 16-bit LE) is split into
    * `bands` contiguous slices `[b·n/bands, (b+1)·n/bands)` and each
    * slice sums |sample| — an integer energy profile computed from
    * genuinely decoded audio, the feature the FNV stub never was.
    * None for invalid payloads or non-16-bit PCM. */
  def wavBandEnergies(content: Array[Byte], bands: Int): Option[Array[Long]] = {
    require(bands > 0, "bands must be positive")
    wavLayout(content).flatMap { l =>
      if (l.bitsPerSample != 16) None
      else {
        val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
        val n = (l.dataSize / 2).toLong
        val out = new Array[Long](bands)
        var b = 0
        while (b < bands) {
          var idx = b * n / bands
          val hi = (b + 1) * n / bands
          var acc = 0L
          while (idx < hi) {
            acc += math.abs(buf.getShort(l.dataOff + 2 * idx.toInt).toLong)
            idx += 1
          }
          out(b) = acc
          b += 1
        }
        Some(out)
      }
    }
  }

  /** Voice-activity segmentation over real 16-bit PCM: fixed windows
    * of `win` samples, a window ACTIVE iff its absolute-amplitude sum
    * exceeds `thrPerSample` per sample it contains (the tail window
    * may be short — the threshold scales with it), segments = maximal
    * runs of active windows. The droppable-silence accounting an
    * audio curation pipeline runs before paying for transcription.
    * Integer-exact over the decoded samples, so the synthetic-payload
    * oracle replays windows, flags, and the run count byte-for-byte.
    * Returns (nWindows, nActive, nSegments); None for non-16-bit or
    * structurally invalid WAV. Row-local — scales like decode(). */
  def wavActivity(content: Array[Byte], win: Int,
      thrPerSample: Long): Option[(Long, Long, Long)] = {
    require(win > 0, "window must be positive")
    require(thrPerSample >= 0L, "threshold must be non-negative")
    wavLayout(content).flatMap { l =>
      if (l.bitsPerSample != 16) None
      else {
        val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
        val n = l.dataSize / 2
        val nw = (n + win - 1) / win
        var w = 0; var nActive = 0L; var nSeg = 0L; var prev = false
        while (w < nw) {
          var i = w * win
          val hi = math.min((w + 1) * win, n)
          var acc = 0L
          while (i < hi) {
            acc += math.abs(buf.getShort(l.dataOff + 2 * i).toLong)
            i += 1
          }
          val act = acc > thrPerSample * (hi - w * win)
          if (act) { nActive += 1; if (!prev) nSeg += 1 }
          prev = act
          w += 1
        }
        Some((nw.toLong, nActive, nSeg))
      }
    }
  }

  /** Uniform decoded-sample feature over both real codecs: BMP pixel
    * band sums or WAV PCM band energies by declared media type. */
  def bandEnergies(p: MediaPayload, bands: Int): Option[Array[Long]] =
    p.mediaType match {
      case "image/bmp" => bmpBandSums(p.content, bands)
      case "audio/wav" => wavBandEnergies(p.content, bands)
      case _ => None
    }

  /** Decode a payload dataset to typed metadata. Per-partition digest
    * allocation is the batch-amortization point.
    *
    * Dispatch is by declared media type: `image/bmp` and `audio/wav`
    * run the REAL header parsers; anything else falls back to the
    * deterministic stub. Field convention: images report
    * (width, height, nFrames=1); audio reports (width=sampleRate,
    * height=nChannels, nFrames=samples per channel). A declared
    * bmp/wav payload that fails structural validation yields zeroed
    * dimensions (the row survives — malformed inputs must not kill a
    * 100 TB scan; filter on `width > 0` downstream). */
  def decode(payloads: Dataset[MediaPayload]): Dataset[MediaMeta] = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5") // per-partition init
      it.map { p =>
        val (w, h, nf) = p.mediaType match {
          case "image/bmp" =>
            decodeBmp(p.content) match {
              case Some((bw, bh)) => (bw, bh, 1)
              case None => (0, 0, 0)
            }
          case "audio/wav" =>
            decodeWav(p.content) match {
              case Some(wi) => (wi.sampleRate, wi.nChannels, wi.nFrames)
              case None => (0, 0, 0)
            }
          case _ =>
            val (sw, sh) = decodeDims(p.content)
            (sw, sh, frameCount(p.content))
        }
        md.reset()
        val fp = md.digest(p.content).map(b => f"${b & 0xff}%02x").mkString
        MediaMeta(p.id, p.mediaType, w, h, nf, p.content.length.toLong, fp)
      }
    }
  }

  /** Frame sampling: n evenly-spaced byte slices standing in for
    * decoded video frames — the real plumbing shape
    * (`array<binary>` out, bounded memory per row). */
  def sampleFrames(content: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (content == null || content.isEmpty || n <= 0) return Seq.empty
    val frames = math.min(n, frameCount(content))
    val span = content.length.toDouble / frames
    (0 until frames).map { i =>
      val from = (i * span).toInt
      val until = math.min(content.length, ((i + 1) * span).toInt.max(from + 1))
      java.util.Arrays.copyOfRange(content, from, until)
    }
  }

  // ---------------- multi-frame (video-shaped) container ----------------

  /** Magic prefix of the GVID multi-frame container: `"GVID"` +
    * int32-LE frame count + the frames themselves, each a COMPLETE
    * spec-compliant BMP file. Frames are self-delimiting: a BMP
    * declares its own file size at bytes 2-5, so walking the container
    * means reading each frame's declared size and hopping — exactly
    * how real chunked containers (RIFF/AVI, ISO-BMFF) are traversed.
    * There is no frame index table: a wrong size field desynchronizes
    * the walk and fails validation, which is the point — the q60
    * oracle certifies the walk arithmetic from first principles. */
  val VideoMagic: Array[Byte] = Array('G'.toByte, 'V'.toByte, 'I'.toByte, 'D'.toByte)

  /** Smallest possible BMP frame (the 54-byte header alone) — the one
    * constant both the hostile-frame-count bound and the per-frame
    * size check derive from, so they cannot drift apart. */
  val MinBmpSize = 54

  /** Encode a GVID container holding one generated BMP per (w, h). */
  def encodeVideo(frameDims: Seq[(Int, Int)]): Array[Byte] = {
    val frames = frameDims.map { case (w, h) => encodeBmp(w, h) }
    val total = 8 + frames.map(_.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(VideoMagic)
    buf.putInt(frames.size)
    frames.foreach(buf.put)
    buf.array()
  }

  /** REAL container walk: validate the magic, read the frame count,
    * then hop frame-to-frame via each BMP's declared file size
    * (bytes 2-5 of the frame, int32 LE). Returns the (offset, length)
    * of every frame, or None if anything is structurally inconsistent
    * — truncated header, frame overrunning the payload, trailing
    * bytes after the last frame, or a size field too small to be a
    * BMP. Null-on-failure, the engine's standard malformed-input
    * contract (SURVEY §1.3). */
  def videoFrameSpans(content: Array[Byte]): Option[IndexedSeq[(Int, Int)]] = {
    if (content == null || content.length < 8) return None
    var i = 0
    while (i < 4) { if (content(i) != VideoMagic(i)) return None; i += 1 }
    val buf = ByteBuffer.wrap(content).order(ByteOrder.LITTLE_ENDIAN)
    val nf = buf.getInt(4)
    // reject an untrusted frame count the payload cannot possibly hold
    // (each frame is >= MinBmpSize bytes) BEFORE sizing the buffer from
    // it — a hostile header declaring nf near Int.MaxValue must return
    // None, not allocate gigabytes
    if (nf <= 0 || nf > (content.length - 8) / MinBmpSize) return None
    val spans = new scala.collection.mutable.ArrayBuffer[(Int, Int)](nf)
    var off = 8
    var f = 0
    while (f < nf) {
      if (off + 6 > content.length) return None
      if (content(off) != 'B'.toByte || content(off + 1) != 'M'.toByte) return None
      val len = buf.getInt(off + 2)
      if (len < MinBmpSize || off.toLong + len > content.length) return None
      spans += ((off, len))
      off += len
      f += 1
    }
    if (off != content.length) return None // trailing garbage
    Some(spans.toIndexedSeq)
  }

  /** Evenly-spaced frame sampling over a GVID container: select
    * `min(maxTake, nFrames)` frames at indices `trunc(j·nf/take)`
    * (the same arithmetic as [[sampleFrames]], replayable in SQL) and
    * return each as `(frameIdx, totalFrames, frameBytes)`. The copy
    * is bounded by the SELECTED frames only — unselected frames are
    * never materialized, which is what makes this viable on payloads
    * where decoding everything would blow the task budget. Empty for
    * malformed containers. */
  def sampleVideoFrames(content: Array[Byte], maxTake: Int): Seq[(Int, Int, Array[Byte])] =
    videoFrameSpans(content) match {
      case None => Seq.empty
      case Some(spans) =>
        val nf = spans.size
        val take = math.min(maxTake, nf)
        if (take <= 0) Seq.empty
        else (0 until take).map { j =>
          // Long arithmetic like sampleFrames/resizeBmp: j * nf wraps
          // Int for ~46k-frame containers with a large maxTake
          val f = (j.toLong * nf / take).toInt
          val (off, len) = spans(f)
          (f, nf, java.util.Arrays.copyOfRange(content, off, off + len))
        }
    }

  /** Frame-level duplicate statistics across multi-frame containers —
    * the multimodal twin of segment-level text dedup
    * ([[Dedup.segmentDupStats]]): walk every frame of every container
    * ([[videoFrameSpans]]), hash each frame's DECODED content (dims +
    * exact size + pixel checksum, folded through md5), and count, per
    * container, how many of its frames also appear in at least one
    * OTHER container. Surfaces re-encoded/mirrored video content that
    * container-level fingerprints miss.
    *
    * 100 TB shape: the per-frame stream is skinny (id + 32-byte hash
    * — frame bytes never leave the task that decoded them), the
    * occurrence count is a counting aggregation keyed on the hash, and
    * the join back is hash-keyed — q61's no-pair-expansion shape, so a
    * frame duplicated a million times costs a counter, not 10^12
    * pairs. Malformed containers degrade to zero-frame rows (the row
    * survives, the standard contract). */
  def videoFrameDupStats(payloads: Dataset[MediaPayload]): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val frames = payloads.flatMap { p =>
      videoFrameSpans(p.content).toSeq.flatten.map { case (off, len) =>
        val bytes = java.util.Arrays.copyOfRange(p.content, off, off + len)
        val (w, h) = decodeBmp(bytes).getOrElse((0, 0))
        val pix = bmpBandSums(bytes, 1).map(_(0)).getOrElse(-1L)
        (p.id, w, h, len.toLong, pix)
      }
    }.toDF("id", "w", "h", "n_bytes", "pix_sum")
    // skinny (id, hash) projection persisted: BOTH the occurrence count
    // and the join back consume it, and recomputing would re-decode
    // every frame of every payload — on video corpora the payload scan
    // is the dominant cost, so it must happen once (tracked cache,
    // bounded, released via Caches.unpersistAll between corpora)
    val keyed = Caches.persistTracked(frames.select(col("id"),
      md5(concat_ws(":", col("w"), col("h"), col("n_bytes"), col("pix_sum"))
        .cast("binary")).as("fhash")))
    val occ = keyed.groupBy(col("fhash"))
      .agg(countDistinct(col("id")).as("n_containers"))
    val perDoc = keyed.join(occ, "fhash")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("n_containers") >= 2, 1L).otherwise(0L)).as("n_dup_frames"),
        countDistinct(col("fhash")).as("n_distinct_frames"))
    payloads.select(col("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        coalesce(col("n_dup_frames"), lit(0L)).as("n_dup_frames"),
        coalesce(col("n_distinct_frames"), lit(0L)).as("n_distinct_frames"))
  }

  /** Scene-cut detection over multi-frame containers: decode every
    * frame in order, reduce it to a mean-pixel luminance in fixed
    * point (`mp = pix_sum·1000 div (w·h·3)` — content-scaled, so
    * comparable across frame sizes), and declare a cut wherever the
    * frame-to-frame delta reaches `thrMp`. Returns (id, n_frames,
    * n_cuts, n_scenes) per container, `n_scenes = n_cuts + 1` when any
    * frame decoded, all zero for malformed/empty containers (the
    * standard degrade-don't-drop contract).
    *
    * This is the temporal-segmentation primitive a video training
    * pipeline runs before clip sampling (sample per scene, not per
    * fixed stride, or duplicate-scene removal feeds on its output).
    *
    * 100 TB shape: the decode stays inside the task that read the
    * payload, emitting one skinny (id, frame, mp) row per frame; the
    * lag window partitions by container id — frames of one container
    * ride one partition, containers spread freely. No shuffle carries
    * pixel data. */
  def videoSceneCuts(payloads: Dataset[MediaPayload], thrMp: Long): DataFrame = {
    require(thrMp > 0, "threshold must be positive")
    val spark = payloads.sparkSession
    import spark.implicits._
    val frames = payloads.flatMap { p =>
      videoFrameSpans(p.content).toSeq.flatten.zipWithIndex.map {
        case ((off, len), f) =>
          val bytes = java.util.Arrays.copyOfRange(p.content, off, off + len)
          val mp = (for {
            (w, h) <- decodeBmp(bytes) if w > 0 && h > 0
            sums <- bmpBandSums(bytes, 1)
          } yield sums(0) * 1000L / (w.toLong * h * 3L)).getOrElse(-1L)
          (p.id, f.toLong, mp)
      }
    }.toDF("id", "f", "mp")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("f"))
    val cuts = frames.withColumn("prev", lag(col("mp"), 1).over(w))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("prev").isNotNull &&
          abs(col("mp") - col("prev")) >= thrMp, 1L).otherwise(0L)).as("n_cuts"))
    payloads.select(col("id")).join(cuts, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        when(col("n_frames").isNotNull, col("n_cuts") + 1L).otherwise(0L)
          .as("n_scenes"))
  }

  /** Payload-level duplicate statistics across a mixed media corpus —
    * [[videoFrameDupStats]]'s whole-payload sibling: every payload gets
    * a content key derived from its DECODED representation (BMP: dims +
    * size + pixel checksum; WAV: rate/channels + size + |PCM| energy),
    * so re-containered copies of the same content collide where a raw
    * byte hash would not; payloads the codecs reject fall back to the
    * exact raw-bytes hash (the row survives and still participates in
    * exact dedup). Returns (id, media_type, n_copies) with n_copies =
    * payloads sharing the key, self included.
    *
    * 100 TB shape: one decode pass in mapPartitions, then a counting
    * aggregation on 32-byte hashes and a hash-keyed join back — content
    * never shuffles, no pair expansion, and the skinny key stream is
    * cached so the decode pass runs once. */
  def mediaDupStats(payloads: Dataset[MediaPayload]): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    val keyed0 = payloads.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.map { p =>
        val decodedKey = p.mediaType match {
          case "image/bmp" =>
            for { wh <- decodeBmp(p.content); sums <- bmpBandSums(p.content, 1) }
              yield s"image/bmp:${wh._1}:${wh._2}:${p.content.length}:${sums(0)}"
          case "audio/wav" =>
            for { info <- decodeWav(p.content); e <- wavBandEnergies(p.content, 1) }
              yield s"audio/wav:${info.sampleRate}:${info.nChannels}:${p.content.length}:${e(0)}"
          case _ => None
        }
        val key = decodedKey.getOrElse {
          md.reset()
          "raw:" + md.digest(p.content).map(b => f"${b & 0xff}%02x").mkString
        }
        (p.id, p.mediaType, key)
      }
    }.toDF("id", "media_type", "ckey")
    val keyed = Caches.persistTracked(keyed0.select(col("id"), col("media_type"),
      md5(col("ckey").cast("binary")).as("fhash")))
    val occ = keyed.groupBy(col("fhash")).agg(count(lit(1)).as("n_copies"))
    keyed.join(occ, "fhash")
      .select(col("id"), col("media_type"), col("n_copies"))
  }

  /** REAL video-shaped payloads synthesized from the documents table:
    * every doc_id carries a GVID container of `(doc_id % 5) + 2`
    * spec-compliant BMP frames whose dimensions are pure functions of
    * (doc_id, frame index) — so the q60 oracle can recompute every
    * frame's size and decoded pixel checksum from first principles. */
  def documentsAsVideo(spark: SparkSession, dir: String): Dataset[MediaPayload] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir).select("doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val nf = ((id % 5) + 2).toInt
          val dims = (0 until nf).map { f =>
            ((((id + 3L * f) % 24) + 1).toInt, (((id * 7 + 5L * f) % 20) + 1).toInt)
          }
          MediaPayload(id, "video/gvid", encodeVideo(dims))
        }
      }
  }

  /** Resized payload with its new declared dimensions. */
  final case class ResizedMedia(id: Long, mediaType: String,
      width: Int, height: Int, content: Array[Byte])

  /** Media resize. `image/bmp` payloads get the REAL nearest-neighbor
    * resample ([[resizeBmp]]: decode pixels → sample → re-encode with
    * spec padding); a structurally invalid BMP degrades to an empty
    * payload with zeroed dims (the row survives — malformed inputs
    * must not kill a 100 TB scan). Every other format falls back to
    * the STUB byte-budget scale (no codec library in this
    * environment), with the Spark-side shape — mapPartitions over
    * typed rows, bounded output per row, target dims in metadata —
    * identical either way. */
  def resize(payloads: Dataset[MediaPayload], targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.mapPartitions { it =>
      it.map { p =>
        p.mediaType match {
          case "image/bmp" =>
            resizeBmp(p.content, targetW, targetH) match {
              case Some(out) => ResizedMedia(p.id, p.mediaType, targetW, targetH, out)
              case None => ResizedMedia(p.id, p.mediaType, 0, 0, Array.emptyByteArray)
            }
          case _ =>
            val (w, h) = decodeDims(p.content)
            val scale = (targetW.toLong * targetH).toDouble / (w.toLong * h).toDouble
            val newLen = math.max(1, math.min(p.content.length,
              math.round(p.content.length * scale).toInt))
            ResizedMedia(p.id, p.mediaType, targetW, targetH,
              java.util.Arrays.copyOf(p.content, newLen))
        }
      }
    }
  }

  /** STUB feature extraction for formats WITHOUT an in-repo codec:
    * FNV-1a-seeded pseudo-embedding in [-1, 1] over raw container
    * bytes (a real implementation runs an encoder model over decoded
    * media). For BMP/WAV the decoded-sample path exists —
    * [[bandEnergies]] computes genuine pixel/PCM band profiles.
    * Deterministic per payload. */
  def featureVector(content: Array[Byte], dim: Int = 16): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < content.length) {
      h ^= (content(i) & 0xffL); h *= 0x100000001b3L
      i += 1
    }
    var j = 0
    while (j < dim) {
      h ^= j.toLong; h *= 0x100000001b3L
      out(j) = ((h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
      j += 1
    }
    out
  }

  /** REAL media payloads synthesized from the documents table: even
    * doc_ids carry an actual BMP file, odd doc_ids an actual WAV file,
    * with container parameters that are pure functions of doc_id.
    * The Spark side encodes spec-compliant bytes and [[decode]] then
    * genuinely parses the headers back; the oracle computes the
    * expected metadata (including exact file sizes from the BMP row-
    * padding and WAV chunk layout rules) from first principles — a
    * wrong byte offset on either side breaks the match. */
  def documentsAsRealMedia(spark: SparkSession, dir: String): Dataset[MediaPayload] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir).select("doc_id").as[Long]
      .mapPartitions { it =>
        it.map { id =>
          if (id % 2 == 0)
            MediaPayload(id, "image/bmp",
              encodeBmp(((id % 64) + 1).toInt, (((id * 7) % 48) + 1).toInt))
          else
            MediaPayload(id, "audio/wav",
              encodeWav((8000 + (id % 8) * 500).toInt,
                (1 + ((id / 2) % 2)).toInt, ((id % 200) + 1).toInt))
        }
      }
  }
}
