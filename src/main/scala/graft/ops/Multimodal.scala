package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Tables._

/** Multimodal column plumbing: image/audio/video treated as opaque `binary`
  * payloads with typed metadata, and feature extraction as a batched
  * per-partition pass.
  *
  * The IMAGE path is a REAL codec path: the deterministic source raster is
  * encoded to an actual PNG and decoded back through `javax.imageio` (which
  * ships with the JDK) before any pixel math runs, so feature extraction and
  * resizing operate on genuinely decoded pixels. PNG grayscale is lossless,
  * which keeps every decoded pixel closed-form (the tiled source bytes) —
  * that is what lets the DuckDB oracle replay m2's pixel checksum without an
  * engine-side dump. The AUDIO path is likewise REAL as of m5: waveforms
  * roundtrip through the JDK's WAV codec (`javax.sound.sampled` — RIFF
  * container parse, PCM16 LE) before featurization, with the same
  * lossless ⇒ closed-form-oracle argument. The VIDEO path is REAL too:
  * no video codec ships with the JDK, so the engine carries its own
  * writer + parser for the public RIFF/AVI container with uncompressed
  * 8-bit DIB frames ('00db', BI_RGB, bottom-up rows padded to 4-byte
  * stride, grayscale palette) — lossless, hence the decoded pixels stay
  * closed-form and the oracle replays per-frame md5s; the frame sampler
  * emits the HEADER-declared width/height/fps, which is what proves the
  * container was genuinely parsed rather than echoed. Swapping in an FFI
  * decoder for compressed codecs stays a local change inside the
  * mapPartitions. */
object Multimodal {

  val FeatureDim = 8

  /** Fixed thumbnail raster for feature extraction (decode-at-fixed-size is
    * the standard feature-extraction shape; it also bounds oracle cost). */
  val ThumbW = 64
  val ThumbH = 48

  /** Asset table: payload = UTF-8 bytes of the text (stand-in for real
    * media), modality round-robin by id, metadata struct derived
    * deterministically. */
  def assets(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast(IntegerType)).as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (pmod(col("doc_id"), lit(64)) * 16 + 64).cast(IntegerType).as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 48).cast(IntegerType).as("height"),
        lit(16000).as("sample_rate")).as("meta"))

  /** Tile `src` into a w×h 8-bit grayscale raster:
    * `pixel(x,y) = src[(y·w+x) mod len]` (zeros for an empty source). This
    * is the closed-form source image — both the PNG encoder input and the
    * oracle's replayable definition of the decoded pixels. */
  private[ops] def tileRaster(src: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h)
    if (src.length > 0) {
      var i = 0
      while (i < out.length) { out(i) = src(i % src.length); i += 1 }
    }
    out
  }

  /** REAL image encode of an 8-bit grayscale raster via `javax.imageio`
    * (`format`: "png" for compressed thumbs, "bmp" for large rasters —
    * PNG's deflate costs ~10x BMP's memcpy at full frame size and the
    * codec-path proof is identical). */
  private[ops] def imgEncode(raster: Array[Byte], w: Int, h: Int, format: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, raster)
    val bos = new java.io.ByteArrayOutputStream()
    // write() returns false (no exception) for an unregistered format —
    // that must fail HERE, not as zero-byte payloads found downstream
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"imgEncode: no ImageIO writer registered for format '$format'")
    bos.toByteArray
  }

  /** REAL image decode via `javax.imageio` (container sniffed from the
    * bytes) → (8-bit grayscale pixels, w, h). */
  private[ops] def imgDecode(bytes: Array[Byte]): (Array[Byte], Int, Int) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Byte](w * h)
    img.getRaster.getDataElements(0, 0, w, h, out)
    (out, w, h)
  }

  private[ops] def md5hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Byte-histogram feature vector: `feat(j) = |{i : b_i mod 8 = j}| / n`.
    * Doubles (not floats) so the gate's select-time `round(·, 4)` sees the
    * same raw ratio DuckDB computes. */
  private[ops] def histFeatures(bytes: Array[Byte]): Array[Double] = {
    val hist = new Array[Long](FeatureDim)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xff) % FeatureDim) += 1; i += 1 }
    val n = math.max(bytes.length, 1).toDouble
    hist.map(_ / n)
  }

  /** Batched feature extraction over the binary column. One pass per
    * partition, no shuffle; output schema
    * (doc_id, modality, byte_len, checksum, feat: array<double>).
    * Image rows run the REAL decode (PNG roundtrip at [[ThumbW]]×[[ThumbH]])
    * and hash/featurize the DECODED pixels — a broken decoder fails the
    * driver gate, not just a spec. Audio/video rows featurize payload bytes
    * directly (stub decode, documented above). */
  def extractFeatures(assetDf: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[(Long, String, Array[Byte])]
    val outEnc = Encoders.product[(Long, String, Int, String, Array[Double])]
    assetDf.select(col("doc_id"), col("modality"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point (an FFI decoder would open its context here)
        it.map { case (id, modality, payload) =>
          val px =
            if (modality == "image")
              imgDecode(imgEncode(tileRaster(payload, ThumbW, ThumbH), ThumbW, ThumbH))._1
            else payload
          (id, modality, payload.length, md5hex(px), histFeatures(px))
        }
      }(outEnc)
      .toDF("doc_id", "modality", "byte_len", "checksum", "feat")
  }

  /** Closed-form nearest-neighbor resize over the VIRTUAL raster
    * `pixel(x,y) = payload[(y·w+x) mod len]` — the spec's independent
    * reference for [[resizeImages]] (which must agree because the PNG
    * roundtrip is lossless). */
  private[ops] def nnResize(payload: Array[Byte], w: Int, h: Int, tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th)
    val n = math.max(payload.length, 1)
    var y = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) {
        val sx = x * w / tw
        out(y * tw + x) = payload((sy * w + sx) % n)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Nearest-neighbor resample of a fully materialized w×h raster. */
  private[ops] def nnResizeRaster(raster: Array[Byte], w: Int, h: Int, tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](tw * th)
    var y = 0
    while (y < th) {
      val sy = y * h / th
      var x = 0
      while (x < tw) {
        out(y * tw + x) = raster(sy * w + x * w / tw)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Resize the image-modality assets to `tw`×`th`; per-partition batch, no
    * shuffle, metadata-sized source. The source image is materialized as a
    * REAL PNG and decoded back through `javax.imageio` before resampling —
    * the pixel math runs on decoded pixels, not on the virtual raster. */
  def resizeImages(assetDf: DataFrame, tw: Int = 32, th: Int = 24): DataFrame = {
    implicit val enc = Encoders.product[(Long, Array[Byte], Int, Int)]
    val outEnc = Encoders.product[(Long, Int, Int, Array[Byte])]
    val slots = assetDf.sparkSession.sparkContext.defaultParallelism
    assetDf.filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"), col("meta.width"), col("meta.height"))
      // the codec kernel is CPU-heavy (~ms per full frame) while the input
      // rows are tiny (text payloads), so a small-row shuffle that spreads
      // the decode over every core wins at any scale — a small parquet
      // otherwise arrives as ONE partition and serializes the whole job
      .repartition(slots)
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions(_.map { case (id, payload, w, h) =>
        // full-frame rasters go through BMP: same real ImageIO decode, no
        // deflate bill (PNG at these sizes measured ~4s of bench time)
        val (px, dw, dh) = imgDecode(imgEncode(tileRaster(payload, w, h), w, h, "bmp"))
        (id, tw, th, nnResizeRaster(px, dw, dh, tw, th))
      })(outEnc)
      .toDF("doc_id", "out_w", "out_h", "payload")
  }

  // ---------------- REAL video codec path (RIFF/AVI, hand-built) ----------------

  /** Video frame geometry. Width is deliberately NOT a multiple of 4 so the
    * DIB row stride (rows pad to 4-byte boundaries) differs from the row
    * width — a parser that ignores stride produces sheared garbage and
    * fails the hash gate. */
  val VideoW = 30
  val VideoH = 20
  private val VideoStride = (VideoW + 3) / 4 * 4 // 32
  /** Byte offset between consecutive synthesized frames in the payload's
    * cyclic extension (coprime-ish with typical text lengths). */
  val FrameStride = 131

  /** Per-doc frame count and frame rate — both closed-form in doc_id, and
    * the fps additionally roundtrips through the AVI stream header
    * (dwRate/dwScale), so the gated fps column proves the header parse. */
  def videoFrameCount(id: Long): Int = (4 + (id % 7)).toInt
  def videoFps(id: Long): Int = (8 + (id % 9)).toInt

  /** Frame `f` of a payload as a top-down VideoW×VideoH raster:
    * `pixel(i) = payload[(f·FrameStride + i) mod len]` — the closed-form
    * definition the oracle replays via substr-over-repeat. */
  private[ops] def synthFrame(payload: Array[Byte], f: Int): Array[Byte] = {
    val out = new Array[Byte](VideoW * VideoH)
    if (payload.length > 0) {
      var i = 0
      while (i < out.length) { out(i) = payload((f * FrameStride + i) % payload.length); i += 1 }
    }
    out
  }

  private def leInt(bb: java.nio.ByteBuffer, v: Int): Unit = bb.putInt(v)

  private def riffChunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length & 1 // RIFF chunks are word-aligned
    val out = java.nio.ByteBuffer.allocate(8 + body.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(tag.getBytes("US-ASCII")); out.putInt(body.length); out.put(body)
    out.array()
  }

  private def riffList(kind: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", kind.getBytes("US-ASCII") ++ body)

  /** Convert a top-down w×h raster to DIB frame bytes: bottom-up row order,
    * each row padded to a 4-byte stride (the on-disk layout BI_RGB DIBs
    * use inside '00db' chunks). */
  private[ops] def dibFromRaster(raster: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val stride = (w + 3) / 4 * 4
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) { System.arraycopy(raster, y * w, out, (h - 1 - y) * stride, w); y += 1 }
    out
  }

  private[ops] def rasterFromDib(dib: Array[Byte], w: Int, h: Int, bottomUp: Boolean): Array[Byte] = {
    val stride = (w + 3) / 4 * 4
    require(dib.length == stride * h,
      s"DIB frame is ${dib.length} bytes, expected stride($stride) x h($h)")
    val out = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      val srcRow = if (bottomUp) h - 1 - y else y
      System.arraycopy(dib, srcRow * stride, out, y * w, w)
      y += 1
    }
    out
  }

  /** REAL AVI encode, hand-built against the public RIFF/AVI container
    * layout (no video codec ships with the JDK): RIFF('AVI ') holding
    * LIST(hdrl){avih, LIST(strl){strh 'vids'/'DIB ', strf
    * BITMAPINFOHEADER(8-bit, BI_RGB) + 256-entry grayscale palette}},
    * LIST(movi){'00db' uncompressed DIB frames}, and an idx1 keyframe
    * index. Frames are top-down rasters; storage is bottom-up + padded. */
  private[ops] def aviEncode(frames: Seq[Array[Byte]], w: Int, h: Int, fps: Int): Array[Byte] = {
    require(fps > 0, "fps must be positive")
    val stride = (w + 3) / 4 * 4
    val frameBytes = stride * h
    val n = frames.length

    val avih = {
      val bb = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      leInt(bb, 1000000 / fps)   // dwMicroSecPerFrame
      leInt(bb, frameBytes * fps) // dwMaxBytesPerSec
      leInt(bb, 0)               // dwPaddingGranularity
      leInt(bb, 0x10)            // dwFlags = AVIF_HASINDEX
      leInt(bb, n); leInt(bb, 0) // dwTotalFrames, dwInitialFrames
      leInt(bb, 1)               // dwStreams
      leInt(bb, frameBytes)      // dwSuggestedBufferSize
      leInt(bb, w); leInt(bb, h)
      leInt(bb, 0); leInt(bb, 0); leInt(bb, 0); leInt(bb, 0) // dwReserved[4]
      bb.array()
    }
    val strh = {
      val bb = java.nio.ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("vids".getBytes("US-ASCII")); bb.put("DIB ".getBytes("US-ASCII"))
      leInt(bb, 0)                       // dwFlags
      bb.putShort(0); bb.putShort(0)     // wPriority, wLanguage
      leInt(bb, 0)                       // dwInitialFrames
      leInt(bb, 1); leInt(bb, fps)       // dwScale, dwRate → fps = rate/scale
      leInt(bb, 0); leInt(bb, n)         // dwStart, dwLength (frames)
      leInt(bb, frameBytes)              // dwSuggestedBufferSize
      leInt(bb, -1); leInt(bb, 0)        // dwQuality (default), dwSampleSize
      bb.putShort(0); bb.putShort(0)     // rcFrame
      bb.putShort(w.toShort); bb.putShort(h.toShort)
      bb.array()
    }
    val strf = {
      val bb = java.nio.ByteBuffer.allocate(40 + 256 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      leInt(bb, 40)              // biSize
      leInt(bb, w); leInt(bb, h) // biWidth, biHeight > 0 → bottom-up
      bb.putShort(1)             // biPlanes
      bb.putShort(8)             // biBitCount: 8-bit paletted
      leInt(bb, 0)               // biCompression = BI_RGB (uncompressed)
      leInt(bb, frameBytes)      // biSizeImage
      leInt(bb, 0); leInt(bb, 0) // biXPelsPerMeter, biYPelsPerMeter
      leInt(bb, 256); leInt(bb, 0) // biClrUsed, biClrImportant
      var i = 0                  // grayscale palette: RGBQUAD(b,g,r,0) = (i,i,i,0)
      while (i < 256) { bb.put(i.toByte); bb.put(i.toByte); bb.put(i.toByte); bb.put(0.toByte); i += 1 }
      bb.array()
    }
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++ riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val frameChunks = frames.map { fr =>
      require(fr.length == w * h, s"frame is ${fr.length} px, expected ${w * h}")
      riffChunk("00db", dibFromRaster(fr, w, h))
    }
    val movi = riffList("movi", frameChunks.reduceOption(_ ++ _).getOrElse(Array.empty))
    val idx1 = {
      val bb = java.nio.ByteBuffer.allocate(16 * n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 4 // offsets are relative to the 'movi' fourcc
      frameChunks.foreach { ck =>
        bb.put("00db".getBytes("US-ASCII"))
        leInt(bb, 0x10)          // AVIIF_KEYFRAME (every uncompressed frame)
        leInt(bb, off); leInt(bb, ck.length - 8)
        off += ck.length
      }
      riffChunk("idx1", bb.array())
    }
    riffChunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi ++ idx1)
  }

  /** REAL AVI decode: walks the RIFF chunk tree, reads geometry from
    * `avih`, the frame rate from `strh` (dwRate/dwScale), the pixel format
    * and row order from `strf`'s BITMAPINFOHEADER, then de-pads and
    * re-orders every '00db'/'00dc' DIB in LIST(movi) into top-down
    * rasters. Returns (frames, width, height, fps) — ALL from the parsed
    * headers. A corrupted container fails loudly at the first bad chunk. */
  private[ops] def aviDecode(bytes: Array[Byte]): (Vector[Array[Byte]], Int, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def str4(off: Int) = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 12 && str4(0) == "RIFF" && str4(8) == "AVI ",
      "not a RIFF/AVI container")
    var w = -1; var h = -1; var fps = -1; var bits = -1
    var bottomUp = true
    var dibs = Vector.empty[Array[Byte]]
    def walk(start: Int, end: Int, inHdrl: Boolean, inStrl: Boolean, inMovi: Boolean): Unit = {
      var off = start
      while (off + 8 <= end) {
        val tag = str4(off)
        val size = bb.getInt(off + 4)
        require(size >= 0 && off + 8 + size <= end, s"chunk '$tag' overruns the container")
        tag match {
          case "LIST" =>
            val kind = str4(off + 8)
            walk(off + 12, off + 8 + size,
              inHdrl || kind == "hdrl", inStrl || kind == "strl", inMovi || kind == "movi")
          case "avih" if inHdrl =>
            require(size >= 56, s"avih chunk is $size bytes, expected >= 56")
            w = bb.getInt(off + 8 + 32); h = bb.getInt(off + 8 + 36)
          case "strh" if inStrl =>
            require(str4(off + 8) == "vids", s"stream type '${str4(off + 8)}', expected 'vids'")
            val scale = bb.getInt(off + 8 + 20)
            val rate = bb.getInt(off + 8 + 24)
            require(scale > 0 && rate > 0 && rate % scale == 0,
              s"non-integral frame rate $rate/$scale")
            fps = rate / scale
          case "strf" if inStrl =>
            require(size >= 40, s"strf chunk is $size bytes, expected >= 40 (BITMAPINFOHEADER)")
            require(bb.getInt(off + 8 + 16) == 0, "compressed DIB (biCompression != BI_RGB)")
            bits = bb.getShort(off + 8 + 14)
            bottomUp = bb.getInt(off + 8 + 8) >= 0 // negative biHeight = top-down
          case t if inMovi && (t == "00db" || t == "00dc") =>
            dibs :+= java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
          case _ => () // unknown chunks (JUNK, idx1, ...) skip by size
        }
        off += 8 + size + (size & 1) // word-aligned
      }
    }
    walk(12, math.min(bytes.length, 8 + bb.getInt(4)), inHdrl = false, inStrl = false, inMovi = false)
    require(w > 0 && h > 0, "missing or malformed avih header")
    require(fps > 0, "missing or malformed strh header")
    require(bits == 8, s"biBitCount $bits, this decoder handles 8-bit DIBs")
    (dibs.map(rasterFromDib(_, w, h, bottomUp)), w, h, fps)
  }

  /** REAL frame sampler: per video doc, synthesize the closed-form frame
    * sequence, encode it into an actual AVI container, decode it back
    * (full RIFF walk + DIB de-pad), and keep every `every`-th DECODED
    * frame. Output carries the header-declared (w, h, fps) — the proof the
    * container was parsed — alongside each decoded frame. Row-local after
    * a decode-parallel repartition (same rationale as [[resizeImages]]:
    * tiny input rows, CPU-heavy kernel). */
  /** The ONE video decode prologue both m4 and m6 run: the video-modality
    * subset, decode-parallel repartition (tiny rows, CPU-heavy kernel —
    * the [[resizeImages]] rationale), then per doc the closed-form frame
    * sequence through a full AVI encode → decode roundtrip. The kernel
    * receives (doc_id, decoded frames, header w, header h, header fps) —
    * keeping m4 and m6 on one container path so a codec change can never
    * desynchronize them. */
  private def decodedVideo[T: org.apache.spark.sql.Encoder](assetDf: DataFrame)(
      kernel: (Long, Vector[Array[Byte]], Int, Int, Int) => IterableOnce[T]): org.apache.spark.sql.Dataset[T] = {
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val slots = assetDf.sparkSession.sparkContext.defaultParallelism
    assetDf.filter(col("modality") === "video")
      .select(col("doc_id"), col("payload"))
      .repartition(slots)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val frames = (0 until videoFrameCount(id)).map(synthFrame(payload, _))
        val (decoded, w, h, fps) = aviDecode(aviEncode(frames, VideoW, VideoH, videoFps(id)))
        kernel(id, decoded, w, h, fps)
      })
  }

  def sampleFrames(assetDf: DataFrame, every: Int = 2): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Int, Int, Int, Array[Byte])]
    decodedVideo(assetDf) { (id, decoded, w, h, fps) =>
      (0 until decoded.length by every).iterator.map { f =>
        (id, f.toLong, w, h, fps, decoded(f))
      }
    }.toDF("doc_id", "frame_no", "w", "h", "fps", "frame")
  }

  /** Resize as a gated query: structural outputs (dims, payload length) are
    * oracle-exact; byte-level resize math is spec'd against the closed-form
    * reference in ExtensionOpsSpec. */
  def modalResize(spark: SparkSession, dir: String): DataFrame =
    resizeImages(assets(t(spark, dir, "documents")))
      .select(col("doc_id"), col("out_w"), col("out_h"),
        octet_length(col("payload")).cast(LongType).as("byte_len"))

  def modalResizeOracleSql: String =
    """SELECT doc_id, CAST(32 AS INT) AS out_w, CAST(24 AS INT) AS out_h,
      | CAST(768 AS BIGINT) AS byte_len
      |FROM documents WHERE doc_id % 3 = 0""".stripMargin

  /** Video feature extraction over REALLY-DECODED frames — the
    * feature-extract step of the video path (m4 proves decode, this
    * derives signal from it): per video doc, roundtrip the closed-form
    * frame sequence through the AVI container, then compute integer-exact
    * aggregates over the decoded pixels — total brightness and motion
    * energy (sum of |Δpixel| between consecutive frames, the classic
    * cheap shot-change signal). Row-local after the decode-parallel
    * repartition; zero shuffle beyond it. */
  def modalVideo(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Int, Int, Int, Long, Long, Long)]
    decodedVideo(assets(t(spark, dir, "documents"))) { (id, decoded, w, h, fps) =>
      var pix = 0L
      var motion = 0L
      var f = 0
      while (f < decoded.length) {
        val cur = decoded(f)
        val prev = if (f > 0) decoded(f - 1) else null
        var i = 0
        while (i < cur.length) {
          pix += (cur(i) & 0xff)
          if (prev != null) motion += math.abs((cur(i) & 0xff) - (prev(i) & 0xff))
          i += 1
        }
        f += 1
      }
      Iterator.single((id, w, h, fps, decoded.length.toLong, pix, motion))
    }.toDF("doc_id", "w", "h", "fps", "n_frames", "pix_sum", "motion_sum")
  }

  /** DuckDB twin of [[modalVideo]]: replays every decoded frame closed-form
    * (the m4 substr-over-repeat construction) and the same integer sums —
    * brightness via ord() per char (printable-ASCII documents: char codes
    * are byte values) and motion via the consecutive-frame self-join. */
  def modalVideoOracleSql: String = {
    val px = VideoW * VideoH
    s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
       |        4 + (doc_id % 7) AS nf, CAST(8 + (doc_id % 9) AS INT) AS fps
       |       FROM documents WHERE doc_id % 3 = 2),
       | f AS (SELECT doc_id, len, text, unnest(range(0, nf)) AS fno FROM d),
       | r AS (SELECT doc_id, fno,
       |        substr(repeat(text, CAST(ceil(((fno * $FrameStride) % len + $px.0) / len) AS INT) + 1),
       |               CAST((fno * $FrameStride) % len AS INT) + 1, $px) AS raster
       |       FROM f),
       | ps AS (SELECT doc_id, CAST(sum(list_sum(list_transform(range(1, $px + 1),
       |          i -> ord(substr(raster, CAST(i AS INT), 1))))) AS BIGINT) AS pix_sum
       |        FROM r GROUP BY doc_id),
       | ms AS (SELECT a.doc_id, CAST(sum(list_sum(list_transform(range(1, $px + 1),
       |          i -> abs(ord(substr(a.raster, CAST(i AS INT), 1)) -
       |               ord(substr(b.raster, CAST(i AS INT), 1)))))) AS BIGINT) AS motion_sum
       |        FROM r a JOIN r b ON a.doc_id = b.doc_id AND b.fno = a.fno - 1
       |        GROUP BY a.doc_id)
       |SELECT d.doc_id, CAST($VideoW AS INT) AS w, CAST($VideoH AS INT) AS h, d.fps,
       | CAST(d.nf AS BIGINT) AS n_frames, ps.pix_sum, ms.motion_sum
       |FROM d JOIN ps USING (doc_id) JOIN ms USING (doc_id)""".stripMargin
  }

  /** Frame sampling as a gated query through the REAL AVI roundtrip: the
    * (w, h, fps) columns come from the PARSED container headers and each
    * checksum is the md5 of a DECODED frame — a broken writer, chunk walk,
    * stride de-pad, or row re-order fails the driver's hash gate, not just
    * a spec. */
  def modalFrames(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(assets(t(spark, dir, "documents")))
      .select(col("doc_id"), col("frame_no"), col("w"), col("h"), col("fps"),
        octet_length(col("frame")).cast(LongType).as("frame_len"),
        md5(col("frame")).as("checksum"))

  /** DuckDB twin of [[modalFrames]]: replays frame `f` of each video doc as
    * `substr` over a repeated text (≡ `payload[(f·131 + i) mod len]`,
    * printable-ASCII documents make char positions byte positions — the m2
    * argument) and md5s it. It can only match if the engine's AVI roundtrip
    * returned every sampled frame bit-exactly, top-down, de-padded, with
    * headers carrying (30, 20, 8 + doc_id mod 9). */
  def modalFramesOracleSql: String = {
    val px = VideoW * VideoH
    s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
       |        4 + (doc_id % 7) AS nf, CAST(8 + (doc_id % 9) AS INT) AS fps
       |       FROM documents WHERE doc_id % 3 = 2),
       | f AS (SELECT doc_id, text, len, fps, unnest(range(0, nf, 2)) AS frame_no FROM d),
       | r AS (SELECT doc_id, frame_no, fps,
       |        substr(repeat(text, CAST(ceil(((frame_no * $FrameStride) % len + $px.0) / len) AS INT) + 1),
       |               CAST((frame_no * $FrameStride) % len AS INT) + 1, $px) AS raster
       |       FROM f)
       |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
       | CAST($VideoW AS INT) AS w, CAST($VideoH AS INT) AS h, fps,
       | CAST($px AS BIGINT) AS frame_len, md5(raster) AS checksum
       |FROM r""".stripMargin
  }

  /** Oracle-checkable metadata projection (byte length is exact — UTF-8 of
    * ASCII text). */
  def modalMeta(spark: SparkSession, dir: String): DataFrame =
    assets(t(spark, dir, "documents"))
      .select(col("doc_id"), col("modality"), octet_length(col("payload")).cast(LongType).as("byte_len"))

  /** Full decode pipeline as a gated query: for image rows the checksum and
    * f0 come from pixels that went through a REAL `javax.imageio` decode, so
    * the hash gate itself proves the codec path; the oracle replays them
    * from the closed-form tiled raster (PNG grayscale is lossless). */
  def modalFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(assets(t(spark, dir, "documents")))
      .select(col("doc_id"), col("modality"), col("byte_len").cast(LongType).as("byte_len"),
        col("checksum"),
        round(element_at(col("feat"), 1), 4).as("f0"))

  /** DuckDB twin of [[modalFeatures]]: image rows rebuild the 64×48 tiled
    * raster (≡ the losslessly decoded PNG pixels) as a string — safe because
    * the documents are printable ASCII, so char positions are byte
    * positions — and replay md5 + the mod-8 histogram ratio; audio/video
    * rows hash/featurize the payload directly, mirroring the stub. */
  def modalFeaturesOracleSql: String =
    s"""WITH d AS (SELECT doc_id,
       |        CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |        text, octet_length(encode(text)) AS byte_len FROM documents),
       | r AS (SELECT doc_id, modality, byte_len,
       |        CASE WHEN modality = 'image'
       |             THEN substr(repeat(text, CAST(ceil(${ThumbW * ThumbH}.0 / length(text)) AS INT)), 1, ${ThumbW * ThumbH})
       |             ELSE text END AS raster FROM d)
       |SELECT doc_id, modality, byte_len, md5(raster) AS checksum,
       | round(CAST(len(list_filter(range(1, length(raster) + 1),
       |                            i -> ord(substr(raster, CAST(i AS INT), 1)) % 8 = 0)) AS DOUBLE)
       |       / length(raster), 4) AS f0
       |FROM r""".stripMargin

  // ---------------- REAL audio codec path (WAV / javax.sound) ----------------

  /** Deterministic PCM16 waveform for doc `id`: `n = 400 + (id mod 97)·8`
    * samples, `s_i = ((id·7919 + i·104729) mod 65536) − 32768` — closed
    * form, so the oracle replays the DECODED samples without a dump
    * (WAV PCM16 is lossless, the m2 argument exactly). */
  private[ops] def synthSamples(id: Long): Array[Short] = {
    val n = (400 + (id % 97) * 8).toInt
    val a = new Array[Short](n)
    synthInto(id, a)
    a
  }

  /** [[synthSamples]] into a caller-owned scratch buffer (returns the
    * sample count) — the allocation-flat seam the m5 kernel uses so the
    * hot loop never allocates a waveform array per document. */
  private[ops] def synthInto(id: Long, buf: Array[Short]): Int = {
    val n = (400 + (id % 97) * 8).toInt
    var i = 0
    while (i < n) {
      buf(i) = (((id * 7919 + i.toLong * 104729) % 65536) - 32768).toShort
      i += 1
    }
    n
  }

  val AudioRate = 16000f

  /** REAL WAV encode via `javax.sound.sampled` (RIFF container, PCM16 LE
    * mono) — the JDK's audio codec, same ships-with-the-JDK status as
    * ImageIO. */
  private[ops] def wavEncode(samples: Array[Short], rate: Float = AudioRate): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(rate, 16, 1, true, false) // signed, little-endian
    val pcm = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(pcm.putShort)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL WAV decode: parse the RIFF container, return the PCM16 samples
    * plus the HEADER-declared format (rate, channels, bits) — emitting the
    * parsed fields is what proves the container really was read. */
  private[ops] def wavDecode(bytes: Array[Byte]): (Array[Short], Int, Int, Int) = {
    import javax.sound.sampled.AudioSystem
    val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    val fmt = ais.getFormat
    val raw = ais.readAllBytes()
    val bb = java.nio.ByteBuffer.wrap(raw).order(
      if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Short](raw.length / 2)
    var i = 0
    while (i < out.length) { out(i) = bb.getShort(); i += 1 }
    (out, fmt.getSampleRate.toInt, fmt.getChannels, fmt.getSampleSizeInBits)
  }

  /** Row container for the [[modalAudio]] kernel: a dedicated case class
    * with primitive fields, so the per-document emit is ONE flat object —
    * a generic Tuple9 boxes every numeric field, and at bench grain those
    * nine boxes per document were measurable GC pressure (r10 bench
    * directive). The product encoder writes these primitives straight
    * into the UnsafeRow. */
  private[ops] final case class AudioFeat(doc_id: Long, sr: Int, ch: Int,
      bits: Int, n_samples: Long, peak: Long, sum_sq: Long, zero_x: Long,
      rms: Double)

  /** ByteArrayOutputStream exposing its internal buffer: the JDK WAV
    * encoder writes into it (reset between documents, buffer reused once
    * grown), and the RIFF parse then reads IN PLACE — `toByteArray`'s
    * full copy per document is gone. */
  private final class ScratchSink extends java.io.ByteArrayOutputStream(4096) {
    def buffer: Array[Byte] = buf
    def length: Int = count
  }

  /** Audio feature extraction through a REAL codec roundtrip: per document,
    * synthesize the closed-form waveform, encode it to an actual WAV file
    * with the JDK encoder, decode it back (container parse + PCM read), and
    * featurize the DECODED samples — integer-exact aggregates (peak,
    * energy, zero crossings) plus an RMS, so a broken encoder, parser, or
    * byte-order handling fails the driver's hash gate, not just a spec.
    * Row-local mapPartitions, zero shuffle — the m2 shape for audio.
    *
    * ALLOCATION-FLAT (r10 bench directive — m5 was the round's only >2×
    * band entry, and the cost was runtime allocation, not the plan): the
    * sample scratch, the PCM byte scratch, the encoder sink, and the
    * `AudioFormat` are all hoisted to partition scope; the decode side
    * hand-parses the RIFF container and featurizes the PCM bytes in place
    * (the AVI-container discipline — [[wavDecode]]'s
    * `AudioSystem.getAudioInputStream` + `readAllBytes` + short-array
    * copy per document are gone from this path). The ENCODER stays the
    * JDK's real `AudioSystem.write` — that roundtrip is the point of the
    * operator; the only per-row allocations left are the two small stream
    * wrappers its API requires and the one [[AudioFeat]] output object. */
  def modalAudio(spark: SparkSession, dir: String): DataFrame = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[AudioFeat]
    t(spark, dir, "documents").select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        val maxN = 400 + 96 * 8 // synthSamples: n = 400 + (id mod 97)·8
        val samples = new Array[Short](maxN)
        val pcm = new Array[Byte](maxN * 2)
        val sink = new ScratchSink
        val fmt = new AudioFormat(AudioRate, 16, 1, true, false)
        it.map { id =>
          val n = synthInto(id, samples)
          var i = 0
          while (i < n) {
            val s = samples(i)
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          sink.reset()
          AudioSystem.write(
            new AudioInputStream(new java.io.ByteArrayInputStream(pcm, 0, n * 2), fmt, n.toLong),
            AudioFileFormat.Type.WAVE, sink)
          // decode: walk the RIFF chunk list in place (ids are ASCII,
          // sizes little-endian, chunks pad to even) — emitting the
          // header-parsed (sr, ch, bits) is what proves the container
          // really was read, exactly as before
          val b = sink.buffer
          val len = sink.length
          require(len >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
            b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E',
            s"not a RIFF/WAVE stream for doc $id")
          def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
          def u32(o: Int): Int = u16(o) | (u16(o + 2) << 16)
          var off = 12
          var sr = 0; var ch = 0; var bits = 0
          var dataOff = -1; var dataLen = 0
          while (off + 8 <= len && (dataOff < 0 || sr == 0)) {
            val csz = u32(off + 4)
            if (b(off) == 'f' && b(off + 1) == 'm' && b(off + 2) == 't' && b(off + 3) == ' ') {
              require(u16(off + 8) == 1, s"PCM fmt chunk expected for doc $id")
              ch = u16(off + 10); sr = u32(off + 12); bits = u16(off + 22)
            } else if (b(off) == 'd' && b(off + 1) == 'a' && b(off + 2) == 't' && b(off + 3) == 'a') {
              dataOff = off + 8; dataLen = math.min(csz, len - dataOff)
            }
            off += 8 + csz + (csz & 1)
          }
          require(dataOff >= 0 && sr > 0, s"RIFF fmt/data chunks missing for doc $id")
          // featurize the decoded PCM in place — fused with the LE short
          // reads, no intermediate sample array
          val m = dataLen / 2
          var sumSq = 0L
          var peak = 0L
          var zeroX = 0L
          var prevNeg = false
          var j = 0
          while (j < m) {
            val s = (u16(dataOff + 2 * j) << 16) >> 16 // sign-extend LE int16
            val a = math.abs(s.toLong)
            sumSq += s.toLong * s
            if (a > peak) peak = a
            val neg = s < 0
            if (j > 0 && neg != prevNeg) zeroX += 1
            prevNeg = neg
            j += 1
          }
          AudioFeat(id, sr, ch, bits, m.toLong, peak, sumSq, zeroX,
            math.sqrt(sumSq.toDouble / m))
        }
      }(outEnc)
      // HALF_UP like every gated rounding (kernel emits the raw double)
      .withColumn("rms", round(col("rms"), 4))
  }

  /** DuckDB oracle twin of [[modalAudio]]: replays the closed-form
    * synthesis and the same integer aggregates — it can only match if the
    * engine's WAV roundtrip returned the samples bit-exactly and the
    * parsed header carried (16000 Hz, mono, 16-bit). */
  def modalAudioOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n FROM documents),
       | s AS (SELECT doc_id, n,
       |        [ ((doc_id * 7919 + i * 104729) % 65536) - 32768 FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
       |       FROM d)
       |SELECT doc_id, 16000 AS sr, 1 AS ch, 16 AS bits,
       | CAST(n AS BIGINT) AS n_samples,
       | CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS peak,
       | CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS sum_sq,
       | CAST(len(list_filter(range(2, CAST(n AS BIGINT) + 1),
       |                      i -> (smp[CAST(i AS INT)] < 0) <> (smp[CAST(i AS INT) - 1] < 0))) AS BIGINT) AS zero_x,
       | round(sqrt(CAST(list_sum(list_transform(smp, x -> x * x)) AS DOUBLE) / n), 4) AS rms
       |FROM s""".stripMargin

  /** Scene-cut threshold for [[modalScenes]]: a cut is a frame whose diff
    * energy against its predecessor exceeds one gray level per pixel on
    * average. In-scene frames are bit-identical (energy 0); a scene
    * boundary lands orders of magnitude above. */
  val SceneCutThreshold: Long = (VideoW * VideoH).toLong

  /** Scene-structured frame count: [[modalScenes]] videos hold 2–5 scenes
    * of three identical frames each. */
  def sceneFrameCount(id: Long): Int = (2 + (id % 4)).toInt * 3

  /** Video scene-change detection (m10) through the REAL AVI roundtrip:
    * each video document is synthesized as 2–5 SCENES of three identical
    * frames (frame content keyed by `fno / 3`, so cuts are planted at
    * known boundaries), encoded into an actual AVI container, decoded
    * back, and scanned with the classic frame-difference detector —
    * integer |Δpixel| energy per consecutive pair, a CUT when energy
    * exceeds [[SceneCutThreshold]]. The shot-boundary pass a video corpus
    * runs before per-scene sampling/captioning (m4's sampler assumes
    * scene grain exists; this is the operator that finds it). Row-local
    * after the decode-parallel repartition; integer-exact outputs so a
    * broken container walk fails the hash gate. */
  def modalScenes(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.product[(Long, Array[Byte])]
    implicit val outEnc = Encoders.product[(Long, Int, Int, Int, Long, Long, Long)]
    val assetDf = assets(t(spark, dir, "documents"))
    val slots = assetDf.sparkSession.sparkContext.defaultParallelism
    assetDf.filter(col("modality") === "video")
      .select(col("doc_id"), col("payload"))
      .repartition(slots)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val frames = (0 until sceneFrameCount(id)).map(f => synthFrame(payload, f / 3))
        val (decoded, w, h, fps) = aviDecode(aviEncode(frames, VideoW, VideoH, videoFps(id)))
        var cuts = 0L
        var cutE = 0L
        var f = 1
        while (f < decoded.length) {
          val cur = decoded(f); val prev = decoded(f - 1)
          var e = 0L
          var i = 0
          while (i < cur.length) { e += math.abs((cur(i) & 0xff) - (prev(i) & 0xff)); i += 1 }
          if (e > SceneCutThreshold) { cuts += 1; cutE += e }
          f += 1
        }
        (id, w, h, fps, decoded.length.toLong, cuts, cutE)
      })
      .toDF("doc_id", "w", "h", "fps", "n_frames", "n_cuts", "cut_energy")
  }

  /** DuckDB oracle twin of [[modalScenes]]: frames replayed closed-form
    * with the scene index `fno // 3` driving content (the m6
    * substr-over-repeat device), the same consecutive-pair |Δ| energies,
    * threshold, and integer folds — matching only if the engine's AVI
    * roundtrip returned every frame bit-exactly. */
  def modalScenesOracleSql: String = {
    val px = VideoW * VideoH
    s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
       |        (2 + doc_id % 4) * 3 AS nf, CAST(8 + (doc_id % 9) AS INT) AS fps
       |       FROM documents WHERE doc_id % 3 = 2),
       | f AS (SELECT doc_id, len, text, nf, unnest(range(0, nf)) AS fno FROM d),
       | r AS (SELECT doc_id, fno,
       |        substr(repeat(text, CAST(ceil((((fno // 3) * $FrameStride) % len + $px.0) / len) AS INT) + 1),
       |               CAST(((fno // 3) * $FrameStride) % len AS INT) + 1, $px) AS raster
       |       FROM f),
       | e AS (SELECT a.doc_id, a.fno,
       |        CAST(list_sum(list_transform(range(1, $px + 1),
       |          i -> abs(ord(substr(a.raster, CAST(i AS INT), 1)) -
       |               ord(substr(b.raster, CAST(i AS INT), 1))))) AS BIGINT) AS ef
       |       FROM r a JOIN r b ON a.doc_id = b.doc_id AND b.fno = a.fno - 1),
       | ag AS (SELECT doc_id,
       |         CAST(count(*) FILTER (ef > $SceneCutThreshold) AS BIGINT) AS n_cuts,
       |         CAST(coalesce(sum(ef) FILTER (ef > $SceneCutThreshold), 0) AS BIGINT) AS cut_energy
       |        FROM e GROUP BY doc_id)
       |SELECT d.doc_id, CAST($VideoW AS INT) AS w, CAST($VideoH AS INT) AS h, d.fps,
       | CAST(d.nf AS BIGINT) AS n_frames, ag.n_cuts, ag.cut_energy
       |FROM d JOIN ag USING (doc_id)""".stripMargin
  }

  /** VAD frame size: 10 ms at [[AudioRate]]. */
  val VadFrame = 160

  /** Frame-energy threshold separating the synthetic quiet floor (per-frame
    * sum-of-squares PROVABLY ≤ 160·1023² ≈ 1.7e8, ~5.6e7 expected) from
    * active full-range bursts (~5.7e10 expected): quiet frames can never
    * cross it, active frames clear it by ~60×. Both engines compare the
    * SAME integer energies, so the gate holds regardless — the margin is
    * what makes the classification itself meaningful. */
  val VadThreshold = 1000000000L

  /** Deterministic amplitude-modulated PCM16 waveform for doc `id`:
    * `n = 1600 + (id mod 97)·16` samples; frame `f = i / 160` is ACTIVE iff
    * `(id·31 + f·17) mod 7 < 3`; active samples take the full-range base
    * `((id·7919 + i·104729) mod 65536) − 32768`, quiet samples the base
    * modulo 1024 (Java truncated `%` — matching DuckDB's dividend-sign
    * `%`). Closed form, so the oracle replays the decoded samples without
    * a dump. */
  private[ops] def synthVadSamples(id: Long): Array[Short] = {
    val n = (1600 + (id % 97) * 16).toInt
    Array.tabulate(n) { i =>
      val base = ((id * 7919 + i.toLong * 104729) % 65536) - 32768
      val active = (id * 31 + (i / VadFrame).toLong * 17) % 7 < 3
      (if (active) base else base % 1024).toShort
    }
  }

  /** Voice-activity segmentation (m9) through a REAL codec roundtrip: per
    * document, synthesize the amplitude-modulated waveform, WAV-encode and
    * decode it back (container parse + PCM read), then run the classic
    * energy VAD over the DECODED samples — 10 ms frames, integer
    * sum-of-squares energy, a frame is active iff energy >
    * [[VadThreshold]], and maximal active runs become segments (the
    * speech/music/silence partitioning an audio-corpus pipeline runs
    * before transcription, so only voiced spans reach the expensive ASR
    * stage). Emits the parsed sample rate plus integer-exact frame/
    * segment counts and the peak frame energy — a broken codec roundtrip
    * fails the hash gate. Row-local mapPartitions, zero shuffle. */
  def modalVad(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Int, Long, Long, Long, Long)]
    t(spark, dir, "documents").select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val (smp, sr, _, _) = wavDecode(wavEncode(synthVadSamples(id)))
          val nFrames = smp.length / VadFrame
          var nActive = 0L
          var nSeg = 0L
          var peakFe = 0L
          var prevActive = false
          var f = 0
          while (f < nFrames) {
            var fe = 0L
            var i = f * VadFrame
            val end = i + VadFrame
            while (i < end) { val s = smp(i).toLong; fe += s * s; i += 1 }
            if (fe > peakFe) peakFe = fe
            val active = fe > VadThreshold
            if (active) {
              nActive += 1
              if (!prevActive) nSeg += 1
            }
            prevActive = active
            f += 1
          }
          (id, sr, nFrames.toLong, nActive, nSeg, peakFe)
        }
      }(outEnc)
      .toDF("doc_id", "sr", "n_frames", "n_active", "n_seg", "peak_fe")
  }

  /** DuckDB oracle twin of [[modalVad]]: replays the closed-form modulated
    * synthesis, the 160-sample frame energies, the threshold, and the
    * run-start segment count (active frame whose predecessor is quiet) —
    * matching only if the engine's WAV roundtrip was bit-exact. */
  def modalVadOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 1600 + (doc_id % 97) * 16 AS n FROM documents),
       | s AS (SELECT doc_id, n,
       |        [ CASE WHEN ((doc_id * 31 + (i // $VadFrame) * 17) % 7) < 3
       |               THEN ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |               ELSE (((doc_id * 7919 + i * 104729) % 65536) - 32768) % 1024 END
       |          FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
       |       FROM d),
       | f AS (SELECT doc_id, unnest(range(0, n // $VadFrame)) AS fi, smp FROM s),
       | fe AS (SELECT doc_id, fi,
       |         list_sum(list_transform(
       |           smp[CAST(fi * $VadFrame + 1 AS INT):CAST((fi + 1) * $VadFrame AS INT)],
       |           x -> x * x)) AS fe
       |        FROM f),
       | mk AS (SELECT doc_id, fi, fe, fe > $VadThreshold AS act,
       |         coalesce(lag(fe > $VadThreshold) OVER (PARTITION BY doc_id ORDER BY fi), false) AS pact
       |        FROM fe)
       |SELECT doc_id, 16000 AS sr, CAST(count(*) AS BIGINT) AS n_frames,
       | CAST(sum(CASE WHEN act THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       | CAST(sum(CASE WHEN act AND NOT pact THEN 1 ELSE 0 END) AS BIGINT) AS n_seg,
       | CAST(max(fe) AS BIGINT) AS peak_fe
       |FROM mk GROUP BY doc_id""".stripMargin

  /** Zero-crossing-rate audio features (m11) — the second classic
    * time-domain audio descriptor next to m9's energy: per document,
    * synthesize the same amplitude-modulated waveform, roundtrip it
    * through the REAL WAV codec, and over the DECODED samples count sign
    * changes (the noisiness/pitch proxy ASR pipelines pair with energy
    * for voiced/unvoiced decisions) plus the integer absolute-amplitude
    * mass. All-integer arithmetic end-to-end, so the hash gate proves the
    * codec roundtrip bit-exact a second, independent way (a DC offset or
    * byte-order bug shifts ZCR even when energies survive). Row-local
    * mapPartitions, zero shuffle, embarrassingly parallel at any corpus
    * size. */
  def modalZcr(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Long, Long, Long)]
    t(spark, dir, "documents").select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val (smp, _, _, _) = wavDecode(wavEncode(synthVadSamples(id)))
          var zc = 0L
          var sumAbs = 0L
          var i = 0
          while (i < smp.length) {
            val s = smp(i).toLong
            sumAbs += math.abs(s)
            if (i > 0 && ((smp(i - 1) < 0) != (s < 0))) zc += 1
            i += 1
          }
          (id, smp.length.toLong, zc, sumAbs)
        }
      }(outEnc)
      .toDF("doc_id", "n_smp", "zc", "sum_abs")
  }

  /** DuckDB oracle twin of [[modalZcr]]: replays the closed-form synthesis
    * and the same sign-change/abs-mass folds over the sample list. */
  def modalZcrOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 1600 + (doc_id % 97) * 16 AS n FROM documents),
       | s AS (SELECT doc_id, n,
       |        [ CASE WHEN ((doc_id * 31 + (i // $VadFrame) * 17) % 7) < 3
       |               THEN ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |               ELSE (((doc_id * 7919 + i * 104729) % 65536) - 32768) % 1024 END
       |          FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
       |       FROM d)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_smp,
       | CAST(coalesce(list_sum([ CASE WHEN (smp[i] < 0) != (smp[i+1] < 0) THEN 1 ELSE 0 END
       |            FOR i IN range(1, CAST(n AS BIGINT)) ]), 0) AS BIGINT) AS zc,
       | CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS sum_abs
       |FROM s""".stripMargin

  /** Geometric augmentation (m14) — the flip/rotate pair every vision
    * training pipeline applies, run through TWO real codec roundtrips:
    * decode the PNG thumb, horizontally FLIP and 90°-clockwise ROTATE the
    * pixel array, RE-ENCODE each result (the rotation at its swapped
    * W×H), decode again, and emit md5s of the final decoded pixels plus
    * the rotation's HEADER-declared dimensions. Like m12, the gate proves
    * GEOMETRY — index arithmetic per transformed pixel — against the
    * closed-form raster replayed by the oracle; a transposed axis or
    * off-by-one stride shifts every hash. Row-local mapPartitions, zero
    * shuffle, one decode feeding both transforms. */
  def modalAugment(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val outEnc = Encoders.product[(Long, String, String, Int, Int)]
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    assets(t(spark, dir, "documents")).filter(col("modality") === "image")
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val (w, h) = (ThumbW, ThumbH)
          val px = imgDecode(imgEncode(tileRaster(payload, w, h), w, h))._1
          val flip = new Array[Byte](w * h)
          var i = 0
          while (i < w * h) {
            flip(i) = px((i / w) * w + (w - 1 - i % w)); i += 1
          }
          // clockwise: dst(r, c) = src(h-1-c, r); dst is h wide, w tall
          val rot = new Array[Byte](w * h)
          var j = 0
          while (j < w * h) {
            rot(j) = px((h - 1 - j % h) * w + j / h); j += 1
          }
          val (flipPx, _, _) = imgDecode(imgEncode(flip, w, h))
          val (rotPx, rw, rh) = imgDecode(imgEncode(rot, h, w))
          (id, md5hex(flipPx), md5hex(rotPx), rw, rh)
        }
      }(outEnc)
      .toDF("doc_id", "flip_md5", "rot_md5", "rot_w", "rot_h")
  }

  /** DuckDB oracle twin of [[modalAugment]]: the closed-form raster with
    * the same flip/rotation index arithmetic (printable-ASCII text makes
    * char positions byte positions, the m2/m12 argument) — matches only if
    * both roundtrips were lossless and the geometry is exact. */
  def modalAugmentOracleSql: String = {
    val (w, h) = (ThumbW, ThumbH)
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       | r AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil(${w * h}.0 / length(text)) AS INT)),
       |               1, ${w * h}) AS raster
       |       FROM d)
       |SELECT doc_id,
       | md5(array_to_string(list_transform(range(0, ${w * h}),
       |   i -> substr(raster, CAST((i // $w) * $w + ($w - (i % $w)) AS INT), 1)), '')) AS flip_md5,
       | md5(array_to_string(list_transform(range(0, ${w * h}),
       |   j -> substr(raster, CAST(($h - 1 - (j % $h)) * $w + (j // $h) + 1 AS INT), 1)), '')) AS rot_md5,
       | $h AS rot_w, $w AS rot_h
       |FROM r""".stripMargin
  }

  /** Audio resampling (m13) — the rate-normalization step every audio
    * corpus runs before a fixed-rate encoder (Whisper-style models eat
    * 16 kHz; telephony arrives at 8, podcasts at 44.1): decimate-by-2
    * with a 2-tap box anti-alias (y_j = ⌊(s_2j + s_2j+1)/2⌋, floor
    * division — integer-exact, so the gate stays bit-sharp), through TWO
    * real WAV roundtrips: decode the 16 kHz original, resample, RE-ENCODE
    * at 8 kHz and decode again — the emitted sample rate comes from the
    * second decode's PARSED header, so the rate metadata path (not just
    * the PCM path) is what the gate certifies. Row-local mapPartitions,
    * zero shuffle — the m-series rule that media bytes never cross an
    * exchange. */
  def modalResample(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Int, Long, Long, Long)]
    t(spark, dir, "documents").select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val (smp, _, _, _) = wavDecode(wavEncode(synthSamples(id)))
          val half = new Array[Short](smp.length / 2)
          var j = 0
          while (j < half.length) {
            half(j) = Math.floorDiv(smp(2 * j) + smp(2 * j + 1), 2).toShort
            j += 1
          }
          val (out, srOut, _, _) = wavDecode(wavEncode(half, AudioRate / 2))
          var sumSq = 0L
          var peak = 0L
          var i = 0
          while (i < out.length) {
            val s = out(i).toLong
            sumSq += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            i += 1
          }
          (id, srOut, out.length.toLong, peak, sumSq)
        }
      }(outEnc)
      .toDF("doc_id", "sr_out", "n_out", "peak_out", "sum_sq_out")
  }

  /** DuckDB oracle twin of [[modalResample]]: replays the closed-form
    * synthesis, the same floor-division pair means (operands < 2^17, so
    * the DOUBLE floor is exact), and the same integer folds — matches only
    * if BOTH WAV roundtrips were bit-exact and the re-encoded header
    * carried 8000 Hz. */
  def modalResampleOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n FROM documents),
       | s AS (SELECT doc_id, n,
       |        [ ((doc_id * 7919 + i * 104729) % 65536) - 32768 FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
       |       FROM d),
       | r AS (SELECT doc_id, n,
       |        [ CAST(floor((smp[2*j + 1] + smp[2*j + 2]) / 2.0) AS BIGINT)
       |          FOR j IN range(0, CAST(n AS BIGINT) // 2) ] AS half
       |       FROM s)
       |SELECT doc_id, 8000 AS sr_out, CAST(n // 2 AS BIGINT) AS n_out,
       | CAST(list_max(list_transform(half, x -> abs(x))) AS BIGINT) AS peak_out,
       | CAST(list_sum(list_transform(half, x -> x * x)) AS BIGINT) AS sum_sq_out
       |FROM r""".stripMargin

  /** ViT-style patch extraction (m12) — the image-side tokenizer: each
    * image document decodes through the REAL codec roundtrip and splits
    * into non-overlapping 8×8 patches (the 64×48 thumb → 8×6 = 48 patches
    * per image), emitting the integer pixel mass per patch — the
    * patch-embedding precursor every vision-language pipeline runs
    * (patchify → linear-project → sequence). Row-local flatMap: one
    * decode per image feeds all its patches, zero shuffle — the m-series
    * rule that media bytes never cross an exchange. The hash gate proves
    * patch GEOMETRY (row-major offsets, stride arithmetic) against the
    * closed-form raster, a class of bug (transposed patches, off-by-one
    * strides) that a whole-image checksum like m2's can never see. */
  def modalPatches(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val outEnc = Encoders.product[(Long, Int, Int, Long)]
    assets(t(spark, dir, "documents")).filter(col("modality") === "image")
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val px = imgDecode(imgEncode(tileRaster(payload, ThumbW, ThumbH), ThumbW, ThumbH))._1
          for (pr <- 0 until ThumbH / 8; pc <- 0 until ThumbW / 8) yield {
            var s = 0L
            var dy = 0
            while (dy < 8) {
              var dx = 0
              while (dx < 8) {
                s += px((pr * 8 + dy) * ThumbW + pc * 8 + dx) & 0xff
                dx += 1
              }
              dy += 1
            }
            (id, pr, pc, s)
          }
        }
      }(outEnc)
      .toDF("doc_id", "p_row", "p_col", "psum")
  }

  /** DuckDB oracle twin of [[modalPatches]]: the m2 closed-form tiled
    * raster (printable-ASCII text makes char positions byte positions)
    * with the same row-major 8×8 stride walk. */
  def modalPatchesOracleSql: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       | r AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil(${ThumbW * ThumbH}.0 / length(text)) AS INT)),
       |               1, ${ThumbW * ThumbH}) AS raster
       |       FROM d),
       | p AS (SELECT doc_id, raster, pr.pr, pc.pc
       |       FROM r,
       |            (SELECT unnest(range(0, ${ThumbH / 8})) AS pr) pr,
       |            (SELECT unnest(range(0, ${ThumbW / 8})) AS pc) pc)
       |SELECT doc_id, CAST(pr AS INT) AS p_row, CAST(pc AS INT) AS p_col,
       | CAST(list_sum(list_transform(range(0, 64),
       |   k -> ord(substr(raster,
       |          CAST((pr * 8 + k // 8) * $ThumbW + pc * 8 + (k % 8) + 1 AS INT), 1)))) AS BIGINT) AS psum
       |FROM p""".stripMargin

  // ------------- external-FILE media ingestion (binaryFile source) -------------

  /** How many leading documents are materialized as REAL media files for
    * the ingestion-path query (10 per modality under the round-robin
    * modality assignment) — a bounded fixture, not a corpus-sized dump. */
  val IngestDocCount = 30

  /** Per-JVM registry of media fixture dirs (input dir → fixture path),
    * the [[graft.ops.Similarity]] artifact-dump pattern. */
  private[graft] val mediaFixtureReg =
    graft.core.AtRestRegistry[String]("mm.m7_media", arity = 1,
      kind = graft.core.AtRestRegistry.Fixture)

  /** Materialize a directory of REAL media FILES — `<doc_id>.tif` /
    * `<doc_id>.wav` / `<doc_id>.avi` — encoded by the engine's own codecs
    * (ImageIO TIFF, javax.sound WAV, the hand-built RIFF/AVI writer) from
    * the same closed-form payloads the m2–m6 oracles replay. The write is
    * executor-side per partition (the distributed ingest shape; on a
    * multi-node cluster the `java.nio` sink would be the Hadoop
    * FileSystem, a local change inside the foreach). One-time per JVM and
    * input dir. */
  private def mediaFixtureDir(spark: SparkSession, dir: String): String =
    mediaFixtureReg.getOrBuild(dir) {
      val p = mediaFixtureReg.pathFor(Similarity.OracleDumpRoot, "m7_media", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p))
      implicit val enc = Encoders.product[(Long, String, Array[Byte])]
      assets(t(spark, dir, "documents")).filter(col("doc_id") < IngestDocCount)
        .select(col("doc_id"), col("modality"), col("payload"))
        .as[(Long, String, Array[Byte])]
        .foreachPartition { (it: Iterator[(Long, String, Array[Byte])]) =>
          it.foreach { case (id, mod, payload) =>
            val (name, bytes) = mod match {
              case "image" => (s"$id.tif",
                imgEncode(tileRaster(payload, ThumbW, ThumbH), ThumbW, ThumbH, "tiff"))
              case "audio" => (s"$id.wav", wavEncode(synthSamples(id)))
              case _ => (s"$id.avi", aviEncode(
                (0 until videoFrameCount(id)).map(synthFrame(payload, _)),
                VideoW, VideoH, videoFps(id)))
            }
            require(bytes.nonEmpty, s"media fixture: empty encode for $name")
            java.nio.file.Files.write(java.nio.file.Paths.get(p, name), bytes)
          }
        }
      p
    }

  /** The external-file ingestion path end-to-end: real media files on
    * disk → `spark.read.format("binaryFile")` → modality dispatch on the
    * file extension → the engine's REAL decoders — and every emitted
    * column is decoder-derived (header-declared dims/rate/frame-count,
    * decoded-content sums and checksums), so a wrong byte anywhere in
    * write → scan → decode fails the driver's hash gate. This is the
    * first query whose payloads enter through the FILE boundary rather
    * than being synthesized in the kernel — a user's
    * `binaryFile`-over-a-media-directory pipeline, verbatim.
    *
    * Scale shape: binaryFile is a standard FileScan (partition-parallel,
    * one task per file group; `maxPartitionBytes` governs batching), the
    * decode is row-local mapPartitions, and the output is one row per
    * file — no shuffle anywhere. */
  def modalIngest(spark: SparkSession, dir: String): DataFrame = {
    val fixture = mediaFixtureDir(spark, dir)
    implicit val outEnc =
      Encoders.product[(Long, String, Int, Int, Int, Long, Long, String)]
    spark.read.format("binaryFile").load(fixture)
      .select(col("path"), col("content"))
      .as(Encoders.product[(String, Array[Byte])])
      .mapPartitions(_.map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val dot = name.lastIndexOf('.')
        val id = name.substring(0, dot).toLong
        name.substring(dot + 1) match {
          case "tif" =>
            val (raster, w, h) = imgDecode(bytes)
            var s = 0L
            var i = 0
            while (i < raster.length) { s += raster(i) & 0xff; i += 1 }
            (id, "image", w, h, 0, 1L, s, md5hex(raster))
          case "wav" =>
            val (smp, sr, ch, bits) = wavDecode(bytes)
            require(ch == 1 && bits == 16, s"wav $name: expected PCM16 mono, got $ch ch / $bits bit")
            var s = 0L
            var i = 0
            while (i < smp.length) { s += smp(i).toLong * smp(i); i += 1 }
            // sample digest as the CSV rendering: md5 over raw PCM bytes is
            // not DuckDB-replayable (chr() builds UTF-8, not bytes), the
            // decimal string form is — and it pins every sample just as hard
            (id, "audio", 0, 0, sr, smp.length.toLong, s,
              md5hex(smp.mkString(",").getBytes("US-ASCII")))
          case "avi" =>
            val (frames, w, h, fps) = aviDecode(bytes)
            var s = 0L
            frames.foreach { fr =>
              var i = 0
              while (i < fr.length) { s += fr(i) & 0xff; i += 1 }
            }
            (id, "video", w, h, fps, frames.length.toLong, s, md5hex(frames.head))
          case other => throw new IllegalArgumentException(
            s"media ingest: unsupported extension .$other in $name")
        }
      })
      .toDF("doc_id", "modality", "w", "h", "rate", "n_units", "content_sum", "checksum")
  }

  /** DuckDB twin of [[modalIngest]]: replays each modality's closed-form
    * decoded content (the m2/m5/m6 constructions — tiled raster, synthetic
    * PCM, strided frames) and the same integer sums and digests. It can
    * only match if the on-disk FILES written by the engine's encoders came
    * back bit-exact through binaryFile + the decoders. */
  def modalIngestOracleSql: String = {
    val ipx = ThumbW * ThumbH
    val vpx = VideoW * VideoH
    s"""WITH img AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil($ipx.0 / octet_length(encode(text))) AS INT) + 1),
       |               1, $ipx) AS raster
       |       FROM documents WHERE doc_id < $IngestDocCount AND doc_id % 3 = 0),
       | aud AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n,
       |        [ ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |          FOR i IN range(0, CAST(400 + (doc_id % 97) * 8 AS BIGINT)) ] AS smp
       |       FROM documents WHERE doc_id < $IngestDocCount AND doc_id % 3 = 1),
       | vd AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
       |        4 + (doc_id % 7) AS nf, CAST(8 + (doc_id % 9) AS INT) AS fps
       |       FROM documents WHERE doc_id < $IngestDocCount AND doc_id % 3 = 2),
       | vf AS (SELECT doc_id, text, len, nf, fps, unnest(range(0, nf)) AS fno FROM vd),
       | vr AS (SELECT doc_id, nf, fps, fno,
       |        substr(repeat(text, CAST(ceil(((fno * $FrameStride) % len + $vpx.0) / len) AS INT) + 1),
       |               CAST((fno * $FrameStride) % len AS INT) + 1, $vpx) AS raster
       |       FROM vf),
       | vs AS (SELECT doc_id, max(nf) AS nf, max(fps) AS fps,
       |        CAST(sum(list_sum(list_transform(range(1, $vpx + 1),
       |          i -> ord(substr(raster, CAST(i AS INT), 1))))) AS BIGINT) AS pix_sum
       |       FROM vr GROUP BY doc_id),
       | v0 AS (SELECT doc_id, md5(raster) AS checksum FROM vr WHERE fno = 0)
       |SELECT doc_id, 'image' AS modality, CAST($ThumbW AS INT) AS w,
       | CAST($ThumbH AS INT) AS h, CAST(0 AS INT) AS rate, CAST(1 AS BIGINT) AS n_units,
       | CAST(list_sum(list_transform(range(1, $ipx + 1),
       |   i -> ord(substr(raster, CAST(i AS INT), 1)))) AS BIGINT) AS content_sum,
       | md5(raster) AS checksum
       |FROM img
       |UNION ALL
       |SELECT doc_id, 'audio', CAST(0 AS INT), CAST(0 AS INT), CAST(16000 AS INT),
       | CAST(n AS BIGINT),
       | CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT),
       | md5(array_to_string(list_transform(smp, x -> CAST(x AS VARCHAR)), ','))
       |FROM aud
       |UNION ALL
       |SELECT vs.doc_id, 'video', CAST($VideoW AS INT), CAST($VideoH AS INT), vs.fps,
       | CAST(vs.nf AS BIGINT), vs.pix_sum, v0.checksum
       |FROM vs JOIN v0 USING (doc_id)""".stripMargin
  }

  /** LSB provenance watermark (m16) — the traceability primitive a
    * dataset steward embeds before redistribution (who leaked this
    * image?): the 64-bit doc_id is written into the least-significant
    * bits of the first 64 pixels (MSB first), the marked raster goes
    * through the REAL codec roundtrip, and the id is RECOVERED from the
    * decoded pixels — embed, lossless survival, and extraction certified
    * together (a lossy codec or any pixel shift destroys recovery). The
    * gate also hashes the marked raster so the embedding rule itself is
    * pinned, and carries the pixel perturbation mass (≤ 64, LSB-bounded
    * — the watermark is invisible). Row-local, zero shuffle. */
  def modalWatermark(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val outEnc = Encoders.product[(Long, Long, Boolean, Long, String)]
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    assets(t(spark, dir, "documents")).filter(col("modality") === "image")
      .select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val px = imgDecode(imgEncode(tileRaster(payload, ThumbW, ThumbH), ThumbW, ThumbH))._1
        val marked = px.clone()
        var delta = 0L
        var b = 0
        while (b < 64) {
          val bit = ((id >>> (63 - b)) & 1L).toInt
          val old = marked(b) & 0xff
          val nw = old - (old & 1) + bit
          delta += math.abs(nw - old)
          marked(b) = nw.toByte
          b += 1
        }
        val (out, _, _) = imgDecode(imgEncode(marked, ThumbW, ThumbH))
        var rec = 0L
        var i = 0
        while (i < 64) { rec = (rec << 1) | (out(i) & 1L); i += 1 }
        (id, rec, rec == id, delta, md5hex(out))
      })(outEnc)
      .toDF("doc_id", "recovered", "match", "delta", "wm_md5")
  }

  /** DuckDB oracle twin of [[modalWatermark]]: replays the LSB embedding
    * on the closed-form raster with ord/chr arithmetic — recovery, the
    * perturbation mass, and the marked-raster digest all match only if
    * the embed rule and the codec roundtrip were bit-exact. */
  def modalWatermarkOracleSql: String = {
    val ipx = ThumbW * ThumbH
    s"""WITH d AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil($ipx.0 / length(text)) AS INT)), 1, $ipx) AS raster
       |       FROM documents WHERE doc_id % 3 = 0),
       | m AS (SELECT doc_id, raster,
       |        array_to_string(list_transform(range(1, $ipx + 1), i ->
       |          CASE WHEN i <= 64
       |               THEN chr(CAST(ord(substr(raster, CAST(i AS INT), 1))
       |                      - (ord(substr(raster, CAST(i AS INT), 1)) % 2)
       |                      + ((doc_id >> (64 - i)) & 1) AS INT))
       |               ELSE substr(raster, CAST(i AS INT), 1) END), '') AS marked
       |       FROM d)
       |SELECT doc_id, doc_id AS recovered, TRUE AS match,
       | CAST(list_sum(list_transform(range(1, 65), i ->
       |   abs((ord(substr(raster, CAST(i AS INT), 1)) - (ord(substr(raster, CAST(i AS INT), 1)) % 2)
       |        + ((doc_id >> (64 - i)) & 1)) - ord(substr(raster, CAST(i AS INT), 1))))) AS BIGINT) AS delta,
       | md5(marked) AS wm_md5
       |FROM m""".stripMargin
  }

  /** VAD-based silence trimming (m15) — the EDIT that m9's detection
    * exists for: leading and trailing silent frames are cut (interior
    * silence stays — ASR needs the pauses between utterances) and the
    * trimmed clip goes through a SECOND real WAV roundtrip, so the gate
    * certifies the cut offsets, the re-encode, and the surviving samples
    * together. Frame activity is m9's energy rule (spec-proven equal to
    * the closed-form envelope, which is what the oracle replays); the
    * modulated synthesis guarantees ≥3 active frames per doc (the
    * envelope's stride covers every residue class within 7 frames), so
    * the trim is always well-defined. Row-local mapPartitions, zero
    * shuffle. */
  def modalTrim(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Long, Long, Long, Long, Long)]
    t(spark, dir, "documents").select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val (smp, _, _, _) = wavDecode(wavEncode(synthVadSamples(id)))
          val nFrames = smp.length / VadFrame
          def active(f: Int): Boolean = {
            var e = 0L
            var i = f * VadFrame
            val end = i + VadFrame
            while (i < end) { e += smp(i).toLong * smp(i); i += 1 }
            e > VadThreshold
          }
          val first = (0 until nFrames).find(active).get
          val last = (0 until nFrames).findLast(active).get
          val cut = smp.slice(first * VadFrame, (last + 1) * VadFrame)
          val (out, _, _, _) = wavDecode(wavEncode(cut))
          var e = 0L
          var i = 0
          while (i < out.length) { e += out(i).toLong * out(i); i += 1 }
          (id, smp.length.toLong, out.length.toLong,
            first.toLong * VadFrame, (smp.length - (last + 1) * VadFrame).toLong, e)
        }
      }(outEnc)
      .toDF("doc_id", "n_before", "n_after", "cut_lead", "cut_tail", "energy_after")
  }

  /** DuckDB oracle twin of [[modalTrim]]: the closed-form envelope decides
    * first/last active frames, the synthesis replays the surviving
    * samples' energy — matches only if both WAV roundtrips and the cut
    * offsets were exact. (Tail frames shorter than [[VadFrame]] are
    * trailing silence by construction of the synthesis length — n is a
    * multiple of 16 but not of 160 — and the engine's frame loop ignores
    * them, so `n_before − (last+1)·160` includes the ragged tail.) */
  def modalTrimOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 1600 + (doc_id % 97) * 16 AS n FROM documents),
       | f AS (SELECT doc_id, n, unnest(range(0, n // $VadFrame)) AS fr FROM d),
       | af AS (SELECT doc_id, max(n) AS n,
       |         min(CASE WHEN (doc_id * 31 + fr * 17) % 7 < 3 THEN fr END) AS fa,
       |         max(CASE WHEN (doc_id * 31 + fr * 17) % 7 < 3 THEN fr END) AS fl
       |        FROM f GROUP BY doc_id),
       | c AS (SELECT doc_id, n, fa, fl,
       |        fa * $VadFrame AS lo, (fl + 1) * $VadFrame AS hi FROM af),
       | e AS (SELECT doc_id, n, lo, hi,
       |        list_sum([ CASE WHEN ((doc_id * 31 + (i // $VadFrame) * 17) % 7) < 3
       |               THEN (((doc_id * 7919 + i * 104729) % 65536) - 32768)
       |                    * (((doc_id * 7919 + i * 104729) % 65536) - 32768)
       |               ELSE ((((doc_id * 7919 + i * 104729) % 65536) - 32768) % 1024)
       |                    * ((((doc_id * 7919 + i * 104729) % 65536) - 32768) % 1024) END
       |          FOR i IN range(lo, hi) ]) AS energy
       |       FROM c)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_before, CAST(hi - lo AS BIGINT) AS n_after,
       | CAST(lo AS BIGINT) AS cut_lead, CAST(n - hi AS BIGINT) AS cut_tail,
       | CAST(energy AS BIGINT) AS energy_after
       |FROM e""".stripMargin

  /** STREAMING media ingest (e17, registered with the e-series — the
    * m7 × e-series composition): real engine-encoded `.wav` files are
    * discovered by a `binaryFile` FILE STREAM (the landing-directory
    * pattern — media arrives as files, the pipeline tails the directory),
    * each micro-batch decodes row-locally through the REAL WAV codec
    * (`pathGlobFilter` confines the stream to audio), and integer energy
    * masses fold into a per-bucket report. Zero streaming state on the
    * decode path (the e9 principle — a decode needs no history); the only
    * state is the report aggregate on a DOMAIN-bounded key (5 buckets).
    * The oracle replays the closed-form PCM synthesis: it can only match
    * if files → stream → container parse → samples survived bit-exact. */
  def mediaStreamOnce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val fixture = mediaFixtureDir(spark, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    implicit val outEnc = Encoders.product[(Long, Long, Long)]
    val decoded = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.wav").schema(schema).load(fixture)
      .select(col("path"), col("content"))
      .as(Encoders.product[(String, Array[Byte])])
      .mapPartitions(_.map { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val id = name.substring(0, name.lastIndexOf('.')).toLong
        val (smp, _, _, _) = wavDecode(bytes)
        var e = 0L
        var i = 0
        while (i < smp.length) { e += smp(i).toLong * smp(i); i += 1 }
        (id, smp.length.toLong, e)
      })
      .toDF("doc_id", "n_samples", "energy")
    val agg = decoded.groupBy((col("doc_id") % 5).as("bucket"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_samples")).as("n_samples"),
        sum(col("energy")).as("energy"))
    val qname = s"stream_media_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(qname).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(qname)
  }

  /** DuckDB oracle twin of [[mediaStreamOnce]]: the m7 audio construction
    * folded per bucket. */
  def mediaStreamOracleSql: String =
    s"""WITH aud AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n,
       |        [ ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |          FOR i IN range(0, CAST(400 + (doc_id % 97) * 8 AS BIGINT)) ] AS smp
       |       FROM documents WHERE doc_id < $IngestDocCount AND doc_id % 3 = 1)
       |SELECT doc_id % 5 AS bucket, CAST(count(*) AS BIGINT) AS n_files,
       | CAST(sum(n) AS BIGINT) AS n_samples,
       | CAST(sum(list_sum(list_transform(smp, x -> x * x))) AS BIGINT) AS energy
       |FROM aud GROUP BY 1""".stripMargin

  // ---------------- perceptual image dedup (m8) ----------------

  /** 64-bit block-mean average hash (aHash) of a decoded grayscale raster:
    * the [[ThumbW]]×[[ThumbH]] image divides exactly into an 8×8 grid of
    * 8×6 blocks; bit `j` is set iff block `j`'s pixel sum exceeds the
    * global mean (cross-multiplied — `blockSum·64 > totalSum` — so the
    * comparison is integer-exact, never a float mean). Returned as 16 hex
    * nibbles so the oracle can rebuild it without 64-bit shift semantics. */
  private[ops] def aHashHex(px: Array[Byte]): String = {
    val blockSums = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < px.length) {
      val v = (px(i) & 0xff).toLong
      val x = i % ThumbW
      val y = i / ThumbW
      blockSums((y / 6) * 8 + (x / 8)) += v
      total += v
      i += 1
    }
    val sb = new StringBuilder(16)
    var k = 0
    while (k < 16) {
      var nib = 0
      var b = 0
      while (b < 4) {
        if (blockSums(k * 4 + b) * 64 > total) nib |= 8 >> b
        b += 1
      }
      sb.append(Integer.toHexString(nib))
      k += 1
    }
    sb.toString
  }

  /** Perceptual image dedup (m8) — the LAION-style pipeline step: every
    * image doc's REALLY-DECODED pixels (PNG roundtrip, as m2) reduce to a
    * 64-bit block-mean aHash, and images sharing a hash form a dedup group
    * (keeper = smallest doc_id). Unlike m2's md5 checksum, the aHash keys
    * on brightness STRUCTURE, so re-encoded or benignly perturbed copies
    * of an image still collide — the property that makes it a dedup key
    * rather than an integrity check. Near-dup at Hamming ≤ k would band
    * the 16 nibbles exactly like d4's simhash banding; exact-group is the
    * gated form.
    *
    * Scale shape: decode + hash are row-local in one typed pass; the group
    * stats are a window over (hash) on the slim (doc_id, phash) relation —
    * two longs per image, never pixels, through the exchange. */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, String)]
    val hashed = assets(t(spark, dir, "documents"))
      .filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val px = imgDecode(imgEncode(tileRaster(payload, ThumbW, ThumbH), ThumbW, ThumbH))._1
          (id, aHashHex(px))
        }
      }
      .toDF("doc_id", "phash")
    val w = Window.partitionBy(col("phash"))
    hashed
      .withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("keeper", min(col("doc_id")).over(w))
  }

  /** DuckDB twin of [[imagePhash]]: rebuilds the tiled raster (lossless
    * PNG, the m2 argument), replays the integer-exact block sums, the
    * cross-multiplied mean test, and the nibble hex packing. */
  def imagePhashOracleSql: String = {
    val ipx = ThumbW * ThumbH
    s"""WITH img AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil($ipx.0 / length(text)) AS INT)), 1, $ipx) AS raster
       |       FROM documents WHERE doc_id % 3 = 0),
       | px AS (SELECT doc_id, i - 1 AS p, ord(substr(raster, CAST(i AS INT), 1)) AS v
       |        FROM img, range(1, $ipx + 1) AS u(i)),
       | blk AS (SELECT doc_id, (((p // $ThumbW) // 6) * 8 + ((p % $ThumbW) // 8)) AS block,
       |          sum(v) AS bs FROM px GROUP BY 1, 2),
       | tot AS (SELECT doc_id, sum(bs) AS ts FROM blk GROUP BY doc_id),
       | bits AS (SELECT b.doc_id, b.block,
       |           CASE WHEN b.bs * 64 > t.ts THEN 1 ELSE 0 END AS bit
       |          FROM blk b JOIN tot t USING (doc_id)),
       | nib AS (SELECT doc_id, block // 4 AS k,
       |          sum(bit * (CASE block % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS v
       |         FROM bits GROUP BY 1, 2),
       | ph AS (SELECT doc_id, string_agg(lower(to_hex(v)), '' ORDER BY k) AS phash FROM nib GROUP BY doc_id)
       |SELECT doc_id, phash,
       | CAST(count(*) OVER (PARTITION BY phash) AS BIGINT) AS grp_n,
       | min(doc_id) OVER (PARTITION BY phash) AS keeper
       |FROM ph""".stripMargin
  }

  // ---------------- per-scene keyframe selection (m29) ----------------

  /** Per-scene KEYFRAME selection (m29) — the thumbnail/representative-
    * frame pass a vision corpus runs after shot detection (m10 finds the
    * scene grain; captioning/embedding then wants ONE good frame per
    * scene, not the motion-smeared ones): within each 3-frame scene the
    * sharpest frame by integer Laplacian energy (the m27 kernel at frame
    * grain) wins, ties to the earliest frame. Selection is PROVEN by
    * construction: frames 1 and 2 of every scene get the m27 3-tap blur
    * BEFORE the AVI encode (a pure function of the m10 frame synthesis),
    * so the sharp frame 0 must win every scene — measured margin ≥ 2.5M
    * energy units at every shipped SF — and `best_blurred` rides along
    * so the margin itself is gated.
    *
    * Scale shape: one AVI decode + per-frame integer fold + an in-kernel
    * per-scene argmax, all row-local per video (the m10 discipline);
    * output is scene-grain, nothing shuffles but the result. */
  def keyframeSelect(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.product[(Long, Array[Byte])]
    implicit val outEnc = Encoders.product[(Long, Long, Long, Long, Long)]
    val assetDf = assets(t(spark, dir, "documents"))
    val slots = assetDf.sparkSession.sparkContext.defaultParallelism
    assetDf.filter(col("modality") === "video")
      .select(col("doc_id"), col("payload"))
      .repartition(slots)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val nf = sceneFrameCount(id)
        val frames = (0 until nf).map { f =>
          val base = synthFrame(payload, f / 3)
          if (f % 3 == 0) base
          else {
            val out = base.clone()
            var y = 0
            while (y < VideoH) {
              var x = 1
              while (x < VideoW - 1) {
                val p = y * VideoW + x
                out(p) = (((base(p - 1) & 0xff) + (base(p) & 0xff) +
                  (base(p + 1) & 0xff)) / 3).toByte
                x += 1
              }
              y += 1
            }
            out
          }
        }
        val (decoded, _, _, _) = aviDecode(aviEncode(frames, VideoW, VideoH, videoFps(id)))
        def en(px: Array[Byte]): Long = {
          var s = 0L
          var y = 0
          while (y < VideoH) {
            var x = 1
            while (x < VideoW - 1) {
              val p = y * VideoW + x
              val d = (px(p - 1) & 0xff) + (px(p + 1) & 0xff) - 2 * (px(p) & 0xff)
              s += d.toLong * d
              x += 1
            }
            y += 1
          }
          s
        }
        val es = decoded.map(en)
        (0 until nf / 3).map { sc =>
          val fs = 3 * sc until 3 * sc + 3
          val key = fs.minBy(f => (-es(f), f)) // max energy, ties earliest
          (id, sc.toLong, key.toLong, es(key), math.max(es(3 * sc + 1), es(3 * sc + 2)))
        }
      })
      .toDF("doc_id", "scene", "key_fno", "key_energy", "best_blurred")
  }

  /** DuckDB oracle twin of [[keyframeSelect]] — the m10 frame synthesis,
    * the same interior 3-tap floor-mean blur on frames 1/2 of each
    * scene, the integer second-difference energy, and the argmax tie
    * order. */
  def keyframeSelectOracleSql: String = {
    val px = VideoW * VideoH
    // B(j): blurred pixel value at 1-based string index j — interior
    // columns of a blurred frame take the 3-tap floor mean, everything
    // else the raw pixel (the engine's copy-edges rule)
    def b(j: String): String =
      s"(CASE WHEN blurred AND (($j) - 1) % $VideoW BETWEEN 1 AND ${VideoW - 2} " +
        s"THEN (ord(substr(raster, CAST(($j) - 1 AS INT), 1)) + ord(substr(raster, CAST($j AS INT), 1)) + " +
        s"ord(substr(raster, CAST(($j) + 1 AS INT), 1))) // 3 " +
        s"ELSE ord(substr(raster, CAST($j AS INT), 1)) END)"
    s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
       |        (2 + doc_id % 4) * 3 AS nf FROM documents WHERE doc_id % 3 = 2),
       | f AS (SELECT doc_id, len, text, unnest(range(0, nf)) AS fno FROM d),
       | r AS (SELECT doc_id, fno, (fno % 3 <> 0) AS blurred,
       |        substr(repeat(text, CAST(ceil((((fno // 3) * $FrameStride) % len + $px.0) / len) AS INT) + 1),
       |               CAST(((fno // 3) * $FrameStride) % len AS INT) + 1, $px) AS raster
       |       FROM f),
       | bl AS (SELECT doc_id, fno, [${b("i")} FOR i IN range(1, $px + 1)] AS bv FROM r),
       | en AS (SELECT doc_id, fno, CAST(list_sum(
       |         [CASE WHEN (i - 1) % $VideoW BETWEEN 1 AND ${VideoW - 2}
       |               THEN (bv[CAST(i AS INT) - 1] + bv[CAST(i AS INT) + 1] - 2 * bv[CAST(i AS INT)]) *
       |                    (bv[CAST(i AS INT) - 1] + bv[CAST(i AS INT) + 1] - 2 * bv[CAST(i AS INT)])
       |               ELSE 0 END FOR i IN range(1, $px + 1)]) AS BIGINT) AS e
       |        FROM bl),
       | bb AS (SELECT doc_id, fno // 3 AS scene, max(e) AS best_blurred
       |        FROM en WHERE fno % 3 <> 0 GROUP BY 1, 2),
       | sel AS (SELECT doc_id, fno // 3 AS scene, fno, e,
       |          row_number() OVER (PARTITION BY doc_id, fno // 3 ORDER BY e DESC, fno) AS rn
       |         FROM en)
       |SELECT s.doc_id, CAST(s.scene AS BIGINT) AS scene, CAST(s.fno AS BIGINT) AS key_fno,
       | CAST(s.e AS BIGINT) AS key_energy, CAST(b2.best_blurred AS BIGINT) AS best_blurred
       |FROM sel s JOIN bb b2 ON b2.doc_id = s.doc_id AND b2.scene = s.scene
       |WHERE s.rn = 1""".stripMargin
  }

  // ---------------- banded perceptual near-dup (m28) ----------------

  /** Perceptual image NEAR-dup detection (m28) — the LAION dedup step m8
    * promises but gates only exactly ("near-dup at Hamming ≤ k would band
    * the 16 nibbles exactly like d4's simhash banding"): re-encoded,
    * re-tiled, or slightly-retouched copies hash CLOSE but not equal, so
    * the 64-bit aHash splits into 4 bands of 16 bits, candidates share at
    * least one band (pigeonhole: Hamming ≤ 3 guarantees an intact band),
    * and candidates verify by exact nibble-XOR popcount ≤ 3. Near-dup is
    * PROVEN by injection: every image with `doc_id % 9 == 0` (≥ 9)
    * synthesizes its raster from the PREVIOUS image's payload (doc_id−3,
    * never itself planted) with one pixel brightened by +1 BEFORE the PNG
    * encode — measured Hamming ≤ 2 against the donor at every shipped SF,
    * while unrelated rasters collide on at most a band (worst measured
    * bucket: 12 of 1667 images at sf0.1).
    *
    * Scale shape: hash is one decode pass (row-local); the index join
    * shuffles (image × 4) band rows of two small values; verification
    * touches only band collisions and compares 16-nibble strings — the
    * d3/d18 banding discipline applied through the REAL codec path. */
  /** The (doc_id, phash) perceptual-hash relation m28 and m30 share:
    * every image decoded and tiled through the REAL codec path, the m28
    * plant applied (doc_id % 9 == 0 re-synthesizes from its doc_id−3
    * donor with one pixel brightened), aHash'd row-locally, and
    * materialized — one decode pass feeds the band join AND both
    * verification legs of whichever screen consumes it. */
  private def perceptualHashRelation(spark: SparkSession, dir: String): DataFrame =
    Tables.materialize(hashWithPlant(
      imageRelation(spark, dir).join(donorRelation(spark, dir), Seq("doc_id"), "left_outer")))

  /** The image rows (doc_id, payload) of the corpus at `dir`. */
  private[graft] def imageRelation(spark: SparkSession, dir: String): DataFrame =
    assets(t(spark, dir, "documents"))
      .filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"))

  /** The m28 plant's donor side: image `id` synthesizes from `id−3`'s
    * payload — fixture machinery (production hashes come straight off the
    * ingested bytes), shared by the batch relation and the e29 stream. */
  private[graft] def donorRelation(spark: SparkSession, dir: String): DataFrame =
    imageRelation(spark, dir)
      .select((col("doc_id") + 3).as("doc_id"), col("payload").as("donor"))

  /** The m28/m30 per-row hash kernel over an explicit (doc_id, payload,
    * donor) relation — the piece the corpus pass and the e29 streaming
    * micro-batches share, so a batch of freshly-landed images hashes
    * EXACTLY like the standing corpus did (donor substitution, one-pixel
    * brightening, real codec roundtrip, aHash). */
  private[graft] def hashWithPlant(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select(col("doc_id"), col("payload"), col("donor"))
      .as(Encoders.product[(Long, Array[Byte], Array[Byte])])
      .mapPartitions { it =>
        it.map { case (id, payload, donor) =>
          val src =
            if (id % 9 == 0 && id >= 9 && donor != null) {
              val r = tileRaster(donor, ThumbW, ThumbH)
              r(0) = math.min(255, (r(0) & 0xff) + 1).toByte
              r
            } else tileRaster(payload, ThumbW, ThumbH)
          val px = imgDecode(imgEncode(src, ThumbW, ThumbH))._1
          (id, aHashHex(px))
        }
      }
      .toDF("doc_id", "phash")
  }

  /** Exact Hamming distance between two 16-nibble hex hashes `a`/`b` as a
    * codegen'd row-local fold (the m28 verification kernel). */
  private[graft] def hammingSql(a: String, b: String): String =
    s"""aggregate(transform(sequence(0, 15),
       | i -> bit_count(CAST(conv(substring($a, i + 1, 1), 16, 10) AS INT) ^
       |                CAST(conv(substring($b, i + 1, 1), 16, 10) AS INT))),
       | 0, (acc, x) -> acc + x)""".stripMargin

  /** The 16-bit band explosion of [[perceptualHashRelation]] (4 bands per
    * image — the d4 simhash banding discipline on the 64-bit aHash). */
  private[graft] def phashBands(hashed: DataFrame): DataFrame =
    hashed.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 3), b -> substring(phash, b * 4 + 1, 4))")))
      .toDF("doc_id", "band", "bv")

  def imageNearDup(spark: SparkSession, dir: String, tau: Int = 3): DataFrame = {
    val hashed = perceptualHashRelation(spark, dir)
    val bands = phashBands(hashed)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(hashed.select(col("doc_id").as("a"), col("phash").as("ha")), Seq("a"))
      .join(hashed.select(col("doc_id").as("b"), col("phash").as("hb")), Seq("b"))
      .withColumn("hamming", expr(hammingSql("ha", "hb")).cast(LongType))
      .filter(col("hamming") <= tau)
      .select(col("a"), col("b"), col("hamming"),
        (col("b") - col("a") === 3 && col("b") % 9 === 0).as("planted"))
  }

  /** VISUAL eval-leakage screen (m30) — c18's decontamination posture
    * applied to the image modality (the screen a multimodal release runs
    * so benchmark images don't leak into training: an eval image that was
    * re-encoded or lightly retouched shares no bytes but hashes within a
    * few bits): training images whose perceptual hash lands within
    * Hamming ≤ `tau` of ANY eval-set image (`doc_id % evalMod == 0` — the
    * c3/c18 split convention) are flagged with their hit count, worst
    * offender, and closest distance — the c32 report shape at image
    * grain. Leakage is PROVEN by the m28 plant: eval image 15's +1-pixel
    * copy lives at train id 18 (and eval 45 IS a copy of train 42), so
    * hits exist at every shipped SF by construction.
    *
    * Scale shape: the hash relation is ONE decode pass (shared,
    * materialized); the eval side is tiny and BROADCAST (bands and
    * hashes both), candidates come from the band equi-join — never
    * train × eval — and verification touches band collisions only; the
    * per-image fold is one window (count + rank share the partition). */
  def visualDecontam(spark: SparkSession, dir: String, evalMod: Int = 15,
      tau: Int = 3): DataFrame = {
    val hashed = perceptualHashRelation(spark, dir)
    val isEval = pmod(col("doc_id"), lit(evalMod)) === 0
    val evalHashed = hashed.filter(isEval)
    val evalIdx = phashBands(evalHashed).join(evalHashed, Seq("doc_id"))
      .select(col("doc_id").as("eval_id"), col("band"), col("bv"),
        col("phash").as("he"))
    foldVisualHits(hashed.filter(!isEval), evalIdx, tau)
  }

  /** The visual screen's candidate-probe → verify → per-image fold, over
    * an explicit train-side hash relation and eval band index — ONE
    * implementation shared by the m30 corpus pass and e29's per-shard
    * micro-batches (r13 review: a drifted copy of the fold would silently
    * break the stream-equals-batch contract the e29 gate rests on). */
  private[graft] def foldVisualHits(trainHashed: DataFrame, evalIdx: DataFrame,
      tau: Int): DataFrame = {
    val cand = phashBands(trainHashed)
      .select(col("doc_id").as("train_id"), col("band"), col("bv"))
      .join(broadcast(evalIdx.select(col("eval_id"), col("band"), col("bv"))),
        Seq("band", "bv"))
      .select(col("train_id"), col("eval_id")).distinct()
    val w = Window.partitionBy(col("train_id"))
    cand
      .join(trainHashed.select(col("doc_id").as("train_id"), col("phash").as("ht")),
        Seq("train_id"))
      .join(broadcast(evalIdx.select(col("eval_id"), col("he")).distinct()),
        Seq("eval_id"))
      .withColumn("hamming", expr(hammingSql("ht", "he")).cast(LongType))
      .filter(col("hamming") <= tau)
      .withColumn("n_eval_hits", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("hamming"), col("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("n_eval_hits"), col("eval_id").as("worst_eval"),
        col("hamming").as("min_hamming"))
  }

  /** Per-JVM registry of m30's verified per-train-image leakage fold per
    * (dir, evalMod, tau) — the c3/c18 at-rest posture on the IMAGE
    * modality: the first toucher runs the real decode + band join + XOR
    * verification ([[visualDecontam]] — the gate still exercises the
    * screen) and dumps; every later consumer (m30 re-runs, the c35
    * multimodal ledger) folds from parquet. At 100 TB the screen's output
    * is maintained by the image-ingest path next to the hashes — a
    * release gate never re-decodes the corpus. */
  private[graft] val visualDecontamReg =
    graft.core.AtRestRegistry[String]("mm.m30_visual", arity = 3)

  /** The EVAL side of the visual screen as a standing index: (eval_id,
    * band, bv, phash) for every eval-split image — benchmark-sized by the
    * split, so it broadcasts; the e29 streaming upkeep probes it per
    * micro-batch exactly like m30's batch pass probes its band join.
    * Hashes come through [[hashWithPlant]], so an eval image that IS a
    * plant (45 synthesizes from 42) carries the same hash the batch
    * relation computed. */
  private[graft] def evalVisualIndex(spark: SparkSession, dir: String,
      evalMod: Int = 15): DataFrame = {
    val evalHashes = hashWithPlant(
      imageRelation(spark, dir).filter(pmod(col("doc_id"), lit(evalMod)) === 0)
        .join(donorRelation(spark, dir), Seq("doc_id"), "left_outer"))
    Tables.materialize(
      phashBands(evalHashes).join(evalHashes, Seq("doc_id"))
        .select(col("doc_id").as("eval_id"), col("band"), col("bv"),
          col("phash").as("he")))
  }

  /** The at-rest m30 leakage relation (train_id, n_eval_hits, worst_eval,
    * min_hamming) for `dir`. */
  def visualDecontamAtRest(spark: SparkSession, dir: String, evalMod: Int = 15,
      tau: Int = 3): DataFrame = {
    val path = visualDecontamReg.getOrBuild(dir, evalMod, tau) {
      val p = visualDecontamReg.pathFor(Similarity.OracleDumpRoot, "m30_visual", dir, evalMod, tau)
      visualDecontam(spark, dir, evalMod, tau).write.mode("overwrite").parquet(p)
      p
    }
    Tables.parquet(spark, path)
  }

  /** The oracle CTE chain replaying [[perceptualHashRelation]] (donor
    * substitution, one-pixel brightening, tiled raster, m8 block-sum
    * hash) down to the per-image nibbles (`nib`) and 16-bit bands
    * (`bandv`) — shared by the m28 and m30 oracle twins. */
  private def phashOracleCtesSql: String = {
    val ipx = ThumbW * ThumbH
    s"""img AS (SELECT d.doc_id,
       |         CASE WHEN d.doc_id % 9 = 0 AND d.doc_id >= 9 AND dn.text IS NOT NULL
       |              THEN dn.text ELSE d.text END AS src,
       |         (d.doc_id % 9 = 0 AND d.doc_id >= 9 AND dn.text IS NOT NULL) AS planted_src
       |        FROM documents d LEFT JOIN documents dn ON dn.doc_id = d.doc_id - 3
       |        WHERE d.doc_id % 3 = 0),
       | ras AS (SELECT doc_id, planted_src,
       |          substr(repeat(src, CAST(ceil($ipx.0 / length(src)) AS INT)), 1, $ipx) AS raster
       |         FROM img),
       | px AS (SELECT doc_id, i - 1 AS p,
       |         CASE WHEN i = 1 AND planted_src
       |              THEN least(255, ord(substr(raster, 1, 1)) + 1)
       |              ELSE ord(substr(raster, CAST(i AS INT), 1)) END AS v
       |        FROM ras, range(1, $ipx + 1) AS u(i)),
       | blk AS (SELECT doc_id, (((p // $ThumbW) // 6) * 8 + ((p % $ThumbW) // 8)) AS block,
       |          sum(v) AS bs FROM px GROUP BY 1, 2),
       | tot AS (SELECT doc_id, sum(bs) AS ts FROM blk GROUP BY doc_id),
       | nib AS (SELECT b.doc_id, b.block // 4 AS k,
       |          CAST(sum((CASE WHEN b.bs * 64 > t.ts THEN 1 ELSE 0 END) *
       |            (CASE b.block % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS BIGINT) AS v
       |         FROM blk b JOIN tot t USING (doc_id) GROUP BY 1, 2),
       | bandv AS (SELECT doc_id, k // 4 AS band,
       |            sum(v * (CASE k % 4 WHEN 0 THEN 4096 WHEN 1 THEN 256 WHEN 2 THEN 16 ELSE 1 END)) AS bv
       |           FROM nib GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB oracle twin of [[imageNearDup]] — the donor substitution and
    * one-pixel brightening replayed on the tiled raster, the m8 block-sum
    * hash, the same 16-bit banding, and the nibble-XOR verification. */
  def imageNearDupOracleSql(tau: Int = 3): String =
    s"""WITH ${phashOracleCtesSql},
       | cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM bandv x JOIN bandv y
       |          ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id),
       | hm AS (SELECT c.a, c.b, sum(bit_count(xor(na.v, nb.v))) AS hamming
       |        FROM cand c JOIN nib na ON na.doc_id = c.a
       |        JOIN nib nb ON nb.doc_id = c.b AND nb.k = na.k
       |        GROUP BY c.a, c.b)
       |SELECT a, b, CAST(hamming AS BIGINT) AS hamming,
       | (b - a = 3 AND b % 9 = 0) AS planted
       |FROM hm WHERE hamming <= $tau""".stripMargin

  /** DuckDB oracle twin of [[visualDecontam]] — the same hash replay, the
    * cross-split band join, exact nibble-XOR verification, and the same
    * per-train-image fold. */
  def visualDecontamOracleSql(evalMod: Int = 15, tau: Int = 3): String =
    s"""WITH ${phashOracleCtesSql},
       | cand AS (SELECT DISTINCT x.doc_id AS train_id, y.doc_id AS eval_id
       |          FROM bandv x JOIN bandv y
       |          ON x.band = y.band AND x.bv = y.bv
       |          WHERE x.doc_id % $evalMod <> 0 AND y.doc_id % $evalMod = 0),
       | hm AS (SELECT c.train_id, c.eval_id, sum(bit_count(xor(na.v, nb.v))) AS hamming
       |        FROM cand c JOIN nib na ON na.doc_id = c.train_id
       |        JOIN nib nb ON nb.doc_id = c.eval_id AND nb.k = na.k
       |        GROUP BY 1, 2),
       | f AS (SELECT train_id, eval_id, hamming,
       |        count(*) OVER (PARTITION BY train_id) AS n_eval_hits,
       |        row_number() OVER (PARTITION BY train_id ORDER BY hamming, eval_id) AS rn
       |       FROM hm WHERE hamming <= $tau)
       |SELECT train_id, CAST(n_eval_hits AS BIGINT) AS n_eval_hits,
       | eval_id AS worst_eval, CAST(hamming AS BIGINT) AS min_hamming
       |FROM f WHERE rn = 1""".stripMargin

  // ---------------- Loudness normalization (m18) ----------------

  /** Loudness normalization (m18) — the gain-staging pass an audio corpus
    * runs before feature extraction or training (mismatched recording
    * levels otherwise dominate any energy-sensitive model): each clip is
    * scaled to a TARGET RMS (26000 here — deliberately above this
    * synthesis's natural ~18.9k RMS so the hard-clip path is exercised)
    * with int16 saturation, THROUGH the real WAV codec on both sides
    * (decode → gain → re-encode → decode → fold, the m13 discipline).
    *
    * Cross-engine determinism without decimal machinery: the gain
    * `target / sqrt(sumSq/n)` and each product `s·g` are the SAME IEEE
    * double expression in both engines (identical operand order), and
    * rounding is the explicit `floor(x + 0.5)` — a pure IEEE op chain
    * with no tie-mode to disagree on (unlike round(), whose half-up
    * DuckDB applies to the exact binary and Spark to the shortest repr).
    * Integer outputs only. Row-local, zero shuffle. */
  def loudnessNormalize(spark: SparkSession, dir: String, targetRms: Double = 26000.0): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Long, Long, Long, Long, Long)]
    t(spark, dir, "documents").filter(pmod(col("doc_id"), lit(3)) === 1) // audio rows
      .select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val (smp, _, _, _) = wavDecode(wavEncode(synthSamples(id)))
          var sumSq = 0L
          smp.foreach { s => sumSq += s.toLong * s.toLong }
          val g = targetRms / math.sqrt(sumSq.toDouble / smp.length)
          val out = smp.map { s =>
            val v = math.floor(s.toDouble * g + 0.5).toLong
            math.max(-32768L, math.min(32767L, v))
          }
          val (rt, _, _, _) = wavDecode(wavEncode(out.map(_.toShort)))
          var sumSqA = 0L; var peak = 0L; var clipped = 0L
          rt.foreach { s0 =>
            val s = s0.toLong
            sumSqA += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            if (s == 32767L || s == -32768L) clipped += 1
          }
          (id, smp.length.toLong, sumSq, sumSqA, peak, clipped)
        }
      }(outEnc)
      .toDF("doc_id", "n", "sum_sq_in", "sum_sq_out", "peak_out", "n_clipped")
  }

  /** DuckDB oracle twin of [[loudnessNormalize]] — the closed-form
    * synthesis, the IDENTICAL IEEE gain/product/floor chain, the same
    * saturation and integer folds; matches only if both WAV roundtrips
    * were bit-exact. */
  def loudnessNormalizeOracleSql(targetRms: Double = 26000.0): String =
    s"""WITH d AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n FROM documents
       |           WHERE doc_id % 3 = 1),
       | s AS (SELECT doc_id, n,
       |        [ ((doc_id * 7919 + i * 104729) % 65536) - 32768 FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
       |       FROM d),
       | e AS (SELECT doc_id, n, smp,
       |        CAST(list_sum(list_transform(smp, x -> x * x)) AS BIGINT) AS sum_sq_in
       |       FROM s),
       | g AS (SELECT doc_id, n, smp, sum_sq_in,
       |        $targetRms / sqrt(CAST(sum_sq_in AS DOUBLE) / n) AS gain
       |       FROM e),
       | o AS (SELECT doc_id, n, sum_sq_in,
       |        list_transform(smp, x ->
       |          greatest(-32768, least(32767,
       |            CAST(floor(CAST(x AS DOUBLE) * gain + 0.5) AS BIGINT)))) AS outv
       |       FROM g)
       |SELECT doc_id, CAST(n AS BIGINT) AS n, sum_sq_in,
       | CAST(list_sum(list_transform(outv, x -> x * x)) AS BIGINT) AS sum_sq_out,
       | CAST(list_max(list_transform(outv, x -> abs(x))) AS BIGINT) AS peak_out,
       | CAST(len(list_filter(outv, x -> x = 32767 OR x = -32768)) AS BIGINT) AS n_clipped
       |FROM o""".stripMargin

  // ---------------- PNG metadata strip (m17) ----------------

  private val PngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n').map(_.toByte)

  private def pngCrc(typeAndData: Array[Byte]): Int = {
    val c = new java.util.zip.CRC32(); c.update(typeAndData); c.getValue.toInt
  }

  /** Walk a PNG's chunk stream: (type, start offset of the 8-byte
    * length+type frame, data length). Validates the signature and each
    * chunk's CRC — container surgery must never pass silently over a
    * corrupt stream. */
  private[ops] def pngChunks(png: Array[Byte]): Seq[(String, Int, Int)] = {
    require(png.length >= 8 && png.take(8).sameElements(PngSig), "png: bad signature")
    val bb = java.nio.ByteBuffer.wrap(png) // PNG ints are big-endian
    val out = Seq.newBuilder[(String, Int, Int)]
    var off = 8
    while (off < png.length) {
      val len = bb.getInt(off)
      require(len >= 0 && off + 12 + len <= png.length, s"png: truncated chunk at $off")
      val tpe = new String(png, off + 4, 4, "US-ASCII")
      require(bb.getInt(off + 8 + len) == pngCrc(png.slice(off + 4, off + 8 + len)),
        s"png: CRC mismatch in $tpe at $off")
      out += ((tpe, off, len))
      off += 12 + len
    }
    out.result()
  }

  /** Insert `tEXt` metadata chunks (keyword NUL value, correct CRC) right
    * after IHDR — how cameras/editors leave provenance in real files. */
  private[ops] def pngInsertText(png: Array[Byte], entries: Seq[(String, String)]): Array[Byte] = {
    val ihdr = pngChunks(png).find(_._1 == "IHDR").get
    val insertAt = ihdr._2 + 12 + ihdr._3
    val bos = new java.io.ByteArrayOutputStream(png.length + 64 * entries.size)
    bos.write(png, 0, insertAt)
    entries.foreach { case (k, v) =>
      val data = k.getBytes("US-ASCII") ++ Array(0.toByte) ++ v.getBytes("US-ASCII")
      val frame = java.nio.ByteBuffer.allocate(12 + data.length)
      frame.putInt(data.length)
      val td = "tEXt".getBytes("US-ASCII") ++ data
      frame.put(td).putInt(pngCrc(td))
      bos.write(frame.array())
    }
    bos.write(png, insertAt, png.length - insertAt)
    bos.toByteArray
  }

  /** Strip every ANCILLARY chunk — the PNG spec's own rule: a lowercase
    * first type letter marks a chunk as non-critical (tEXt, zTXt, iTXt,
    * eXIf, tIME, pHYs, …). Returns (clean bytes, chunks removed, bytes
    * removed). Critical chunks (IHDR/PLTE/IDAT/IEND) pass through
    * untouched, so pixels are bit-identical by construction. */
  private[ops] def pngStripAncillary(png: Array[Byte]): (Array[Byte], Int, Long) = {
    val chunks = pngChunks(png)
    val bos = new java.io.ByteArrayOutputStream(png.length)
    bos.write(png, 0, 8)
    var removed = 0; var bytesRemoved = 0L
    chunks.foreach { case (tpe, off, len) =>
      if (Character.isLowerCase(tpe.charAt(0))) { removed += 1; bytesRemoved += 12L + len }
      else bos.write(png, off, 12 + len)
    }
    (bos.toByteArray, removed, bytesRemoved)
  }

  /** The m17 injected provenance entries — a pure function of doc_id the
    * oracle replays: `1 + id % 3` tEXt records drawn in order from
    * (Author, Software, Comment), each value `lower(kw)-<id>`. */
  private[ops] def m17Entries(id: Long): Seq[(String, String)] = {
    val kws = Seq("Author", "Software", "Comment")
    (0 until (1 + (id % 3)).toInt).map(j => (kws(j), s"${kws(j).toLowerCase}-$id"))
  }

  /** PNG metadata strip (m17) — the privacy/provenance-hygiene pass a
    * multimodal training pipeline owes its corpus: camera serials, author
    * tags, GPS and edit history ride PNG's ancillary chunks, and a
    * compliant strip must remove EVERY non-critical chunk while leaving
    * pixels bit-identical. This is REAL container surgery (byte-level
    * chunk walk with CRC validation, not a re-encode — re-encoding
    * changes bytes and loses the lossless guarantee): each image is
    * synthesized through the real PNG encoder, provenance is planted as
    * `tEXt` records (closed-form per doc_id, oracle-replayed), and the
    * strip walks the chunk stream dropping lowercase-typed chunks.
    *
    * Gate columns are the closed-form audit (chunks/bytes removed) plus
    * the strip CLAIMS (the q17/e19 device for engine-side media): pixels
    * decode bit-identical and zero ancillary chunks survive — claims an
    * incorrect walker cannot fake because the engine really decodes both
    * streams. Row-local, zero shuffle, one image in flight per row. */
  def metadataStrip(docs: DataFrame): DataFrame = {
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val outEnc = Encoders.product[(Long, Long, Long, Boolean, Boolean)]
    docs.filter(pmod(col("doc_id"), lit(3)) === 0) // the image rows (m1 convention)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val clean0 = imgEncode(tileRaster(payload, ThumbW, ThumbH), ThumbW, ThumbH)
          val dirty = pngInsertText(clean0, m17Entries(id))
          val (stripped, nRemoved, bytesRemoved) = pngStripAncillary(dirty)
          val pixelsOk = java.util.Arrays.equals(imgDecode(dirty)._1, imgDecode(stripped)._1)
          val noneLeft = pngChunks(stripped).forall(c => !Character.isLowerCase(c._1.charAt(0)))
          (id, nRemoved.toLong, bytesRemoved, pixelsOk, noneLeft)
        }
      }(outEnc)
      .toDF("doc_id", "n_removed", "bytes_removed", "pixels_ok", "clean")
  }

  /** DuckDB oracle twin of [[metadataStrip]] — the closed-form audit
    * (each tEXt frame is 12 + len(kw) + 1 + len(value) bytes) plus the
    * trivially-true claim columns (the q17 device). */
  def metadataStripOracleSql: String =
    """WITH e AS (SELECT d.doc_id, j,
      |            ['Author', 'Software', 'Comment'][j + 1] AS kw
      |           FROM documents d, range(0, 3) AS u(j)
      |           WHERE d.doc_id % 3 = 0 AND j < 1 + d.doc_id % 3)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed,
      | CAST(sum(12 + length(kw) + 1 + length(lower(kw) || '-' || CAST(doc_id AS VARCHAR))) AS BIGINT)
      |   AS bytes_removed,
      | TRUE AS pixels_ok, TRUE AS clean
      |FROM e GROUP BY doc_id""".stripMargin

  // ---------------- duplicate-frame detection (m21) ----------------

  /** Within-video duplicate-frame detection (m21) — the static-content
    * screen a video-curation pipeline runs before spending embed compute
    * (slideshows, frozen feeds, and presentation captures are mostly one
    * frame repeated; their information content is one image, not
    * duration × fps): per video, every frame hashes (md5 of the decoded
    * raster — exact-dup grain; the m8 aHash is the NEAR-dup grain) and the
    * report carries distinct-frame count, the longest STATIC RUN of
    * consecutive identical frames, and the duplicate share.
    *
    * Duplication is PROVEN by injection: videos with `doc_id % 4 = 0`
    * freeze every odd frame to its predecessor (`f → f − f%2`, a pure
    * function of (doc_id, f) replayed by the oracle), so each injected
    * video must report exactly ⌈nf/2⌉ distinct frames and a max run ≥ 2 —
    * through the REAL AVI encode/decode, proving the container carries
    * repeated frames losslessly rather than aliasing them.
    *
    * Scale shape: one container decode + one hash pass per video inside
    * `mapPartitions`, zero shuffle — the per-video kernel is O(frames). */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Long, Long, Double)]
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val assetDf = assets(t(spark, dir, "documents"))
    val slots = spark.sparkContext.defaultParallelism
    assetDf.filter(col("modality") === "video")
      .select(col("doc_id"), col("payload"))
      .repartition(slots)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val frames = (0 until videoFrameCount(id)).map { f =>
          val fd = if (id % 4 == 0) f - (f % 2) else f
          synthFrame(payload, fd)
        }
        val (decoded, _, _, _) = aviDecode(aviEncode(frames, VideoW, VideoH, videoFps(id)))
        val hashes = decoded.map(fr => java.security.MessageDigest.getInstance("MD5")
          .digest(fr).map("%02x".format(_)).mkString)
        var maxRun = 1L; var run = 1L
        var i = 1
        while (i < hashes.length) {
          if (hashes(i) == hashes(i - 1)) { run += 1; if (run > maxRun) maxRun = run }
          else run = 1
          i += 1
        }
        val n = hashes.length.toLong
        val nd = hashes.distinct.length.toLong
        val share = BigDecimal((n - nd).toDouble / n)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, n, nd, maxRun, share)
      })
      .toDF("doc_id", "n_frames", "n_distinct", "max_run", "dup_share")
  }

  /** DuckDB oracle twin of [[frameDedup]] — frames replayed as substr
    * rasters over the repeated text (the m4 device) with the same freeze
    * injection, then the same distinct/run/share folds. */
  def frameDedupOracleSql: String = {
    val px = VideoW * VideoH
    s"""WITH d AS (SELECT doc_id, text, octet_length(encode(text)) AS len,
       |        4 + (doc_id % 7) AS nf FROM documents WHERE doc_id % 3 = 2),
       | f AS (SELECT doc_id, len, text,
       |        unnest(range(0, nf)) AS frame_no FROM d),
       | r AS (SELECT doc_id, frame_no,
       |        md5(substr(repeat(text,
       |              CAST(ceil((((CASE WHEN doc_id % 4 = 0
       |                                THEN frame_no - frame_no % 2
       |                                ELSE frame_no END) * $FrameStride) % len + $px.0) / len) AS INT) + 1),
       |            CAST(((CASE WHEN doc_id % 4 = 0
       |                        THEN frame_no - frame_no % 2
       |                        ELSE frame_no END) * $FrameStride) % len AS INT) + 1, $px)) AS h
       |       FROM f),
       | runs AS (SELECT doc_id, frame_no, h,
       |           CASE WHEN lag(h) OVER (PARTITION BY doc_id ORDER BY frame_no) = h
       |                THEN 0 ELSE 1 END AS brk
       |          FROM r),
       | grp AS (SELECT doc_id, h,
       |          sum(brk) OVER (PARTITION BY doc_id ORDER BY frame_no
       |                         ROWS UNBOUNDED PRECEDING) AS g
       |         FROM runs),
       | runlen AS (SELECT doc_id, g, count(*) AS rl FROM grp GROUP BY doc_id, g)
       |SELECT a.doc_id, a.n_frames, a.n_distinct, m.max_run,
       | round(CAST(a.n_frames - a.n_distinct AS DOUBLE) / a.n_frames, 4) AS dup_share
       |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
       |       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct FROM r GROUP BY doc_id) a
       |JOIN (SELECT doc_id, CAST(max(rl) AS BIGINT) AS max_run FROM runlen GROUP BY doc_id) m
       |  USING (doc_id)""".stripMargin
  }

  // ---------------- pitch detection (m20) ----------------

  /** Periodicity / pitch detection over the real WAV codec path (m20) —
    * the YIN-family DIFFERENCE FUNCTION `d(τ) = Σ_{i<W} (s_i − s_{i+τ})²`
    * minimized over a lag band, the speech/music periodicity probe an
    * audio-curation pipeline runs to separate voiced/tonal content from
    * noise (and to tag fundamental frequency for TTS corpus filtering).
    * All arithmetic is exact 64-bit integers over the losslessly
    * roundtripped PCM16 samples — no FFT, no floats — so the argmin (ties
    * to the smallest lag) is bit-identical cross-engine.
    *
    * Detection is PROVEN by injection: every audio doc with
    * `doc_id % 5 = 2` carries a pure sawtooth of period `P = 40 +
    * doc_id % 40` (a pure function of doc_id, replayed by the oracle)
    * INSTEAD of the noise waveform, and the lag band [40, 79] contains
    * exactly one multiple of P — the detector must report `period = P`
    * with `d_min = 0` for every injected doc, and the roundtrip through
    * the WAV container proves the codec carries the wave losslessly.
    *
    * Scale shape: one decode + one O(W·lags) integer kernel per clip
    * inside `mapPartitions` — row-local, zero shuffle, rides along with
    * audio ingest at any corpus size. */
  def pitchDetect(spark: SparkSession, dir: String,
      window: Int = 200, lagLo: Int = 40, lagHi: Int = 79): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Long, Boolean)]
    t(spark, dir, "documents").filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id")).as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        it.map { id =>
          val raw =
            if (id % 5 == 2) {
              val p = (40 + id % 40).toInt
              val n = (400 + (id % 97) * 8).toInt
              Array.tabulate(n)(i => ((i % p) * 100).toShort)
            } else synthSamples(id)
          val smp = wavDecode(wavEncode(raw))._1
          var bestTau = 0L; var bestD = Long.MaxValue
          var tau = lagLo
          while (tau <= lagHi) {
            var d = 0L; var i = 0
            while (i < window) {
              val diff = smp(i).toLong - smp(i + tau)
              d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; bestTau = tau }
            tau += 1
          }
          (id, bestTau, bestD, bestD == 0L)
        }
      }
      .toDF("doc_id", "period", "d_min", "periodic")
  }

  /** DuckDB oracle twin of [[pitchDetect]] — the closed-form samples
    * (noise or injected sawtooth), the same integer difference function
    * over the same lag band, argmin with ties to the smallest lag. */
  def pitchDetectOracleSql(window: Int = 200, lagLo: Int = 40, lagHi: Int = 79): String =
    s"""WITH d AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n FROM documents
       |           WHERE doc_id % 3 = 1),
       | s AS (SELECT doc_id,
       |        CASE WHEN doc_id % 5 = 2
       |             THEN [ (i % (40 + doc_id % 40)) * 100
       |                    FOR i IN range(0, CAST(n AS BIGINT)) ]
       |             ELSE [ ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |                    FOR i IN range(0, CAST(n AS BIGINT)) ]
       |        END AS smp
       |       FROM d),
       | df AS (SELECT doc_id, tau,
       |         list_sum(list_transform(range(0, $window),
       |           i -> (smp[i + 1] - smp[i + tau + 1]) * (smp[i + 1] - smp[i + tau + 1]))) AS dd
       |        FROM s, (SELECT unnest(range($lagLo, ${lagHi + 1})) AS tau) lags),
       | r AS (SELECT doc_id, tau, dd,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY dd, tau) AS rnk FROM df)
       |SELECT doc_id, CAST(tau AS BIGINT) AS period, CAST(dd AS BIGINT) AS d_min,
       | (dd = 0) AS periodic
       |FROM r WHERE rnk = 1""".stripMargin

  // ---------------- image exposure / contrast QC (m19) ----------------

  /** Image exposure & contrast QC (m19) — the screen a vision-data
    * pipeline runs before spending decode+embed compute on an image:
    * per-image min/max luminance, saturated-pixel count, 256-bin histogram
    * Gini impurity `1 − Σ c_v² / N²` (a log-free diversity measure — a
    * near-constant image scores ≈ 0, rich content ≈ 1 − 1/256; exact
    * integer Σ c² then ONE double division, so it is bit-identical
    * cross-engine, unlike an entropy formulation), and a low-contrast
    * verdict. Saturation detection is PROVEN, not hoped: the printable
    * ASCII fixture rasters never reach 255, so white pixels are injected
    * at positions `(7·p + doc_id) mod 101 = 0` — a pure function of
    * (doc_id, position) replayed by the oracle — BEFORE the PNG encode, so
    * the count also proves the codec carries full-scale values losslessly.
    *
    * Scale shape: one decode + one fused counting pass per image inside a
    * single `mapPartitions` — per-row imperative work with zero shuffle,
    * exactly how a 10⁹-image QC sweep rides along with ingest. */
  def imageExposureQc(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Long, Long, Double, Boolean)]
    assets(t(spark, dir, "documents"))
      .filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val raster = tileRaster(payload, ThumbW, ThumbH)
          var p = 0
          while (p < raster.length) {
            if ((7L * p + id) % 101 == 0) raster(p) = 0xff.toByte
            p += 1
          }
          val px = imgDecode(imgEncode(raster, ThumbW, ThumbH))._1
          val hist = new Array[Long](256)
          var mn = 255L; var mx = 0L; var nSat = 0L
          px.foreach { b =>
            val v = b & 0xff
            hist(v) += 1
            if (v < mn) mn = v
            if (v > mx) mx = v
            if (v == 255) nSat += 1
          }
          var ssq = 0L
          hist.foreach(c => ssq += c * c)
          val n = px.length.toLong
          val impurity = BigDecimal(1.0 - ssq.toDouble / (n * n))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, mn, mx, nSat, impurity, mx - mn < 64)
        }
      }
      .toDF("doc_id", "min_v", "max_v", "n_sat", "impurity", "low_contrast")
  }

  /** DuckDB oracle twin of [[imageExposureQc]] — the tiled raster as char
    * codes (printable-ASCII fixture: char position = byte position), the
    * same injection rule, integer histogram fold, and the same single
    * double division. */
  def imageExposureQcOracleSql: String = {
    val ipx = ThumbW * ThumbH
    s"""WITH img AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil($ipx.0 / length(text)) AS INT)), 1, $ipx) AS raster
       |       FROM documents WHERE doc_id % 3 = 0),
       | px AS (SELECT doc_id,
       |         CASE WHEN (7 * (i - 1) + doc_id) % 101 = 0 THEN 255
       |              ELSE ord(substr(raster, CAST(i AS INT), 1)) END AS v
       |        FROM img, range(1, $ipx + 1) AS u(i)),
       | h AS (SELECT doc_id, v, count(*) AS c FROM px GROUP BY doc_id, v),
       | f AS (SELECT doc_id, min(v) AS min_v, max(v) AS max_v,
       |        sum(CASE WHEN v = 255 THEN c ELSE 0 END) AS n_sat,
       |        sum(c * c) AS ssq
       |       FROM h GROUP BY doc_id)
       |SELECT doc_id, CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v,
       | CAST(n_sat AS BIGINT) AS n_sat,
       | round(1.0 - CAST(ssq AS DOUBLE) / (${ipx}.0 * $ipx), 6) AS impurity,
       | (max_v - min_v < 64) AS low_contrast
       |FROM f""".stripMargin
  }

  // ---------------- audio SNR estimation (m26) ----------------

  /** Signal-to-noise estimation (m26) — the audio-quality gate a speech
    * corpus runs before transcription compute (low-SNR clips waste ASR
    * budget and poison alignment): frames classify by the m9 VAD energy
    * threshold, the VOICED mean frame energy over the UNVOICED mean frame
    * energy estimates SNR in dB, and clips under 26 dB flag. Degradation
    * is PROVEN by injection: every 5th clip gains a deterministic ±2048
    * noise floor (saturating, a pure function of (doc_id, i) replayed by
    * the oracle) — small enough that no frame flips its VAD class (±2048
    * keeps unvoiced frames an order of magnitude under the 10⁹ threshold)
    * but a ~5× noise-floor raise, so clean clips sit ≈ 30 dB and injected
    * ≈ 23 dB. Exact integer energy folds; ONE log10 at the end, rounded
    * to 2 (the knBigram ln-parity discipline).
    *
    * Scale shape: one decode + one fused frame fold per clip in
    * `mapPartitions` — the m9 sweep, zero shuffle. */
  def audioSnr(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Long, Long, Long, Long, Double, Boolean)]
    t(spark, dir, "documents").select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val raw = synthVadSamples(id)
          val adj = if (id % 5 == 0) {
            Array.tabulate(raw.length) { i =>
              val noise = ((id * 131 + i.toLong * 71) % 4096) - 2048
              math.max(-32768L, math.min(32767L, raw(i).toLong + noise)).toShort
            }
          } else raw
          val (smp, _, _, _) = wavDecode(wavEncode(adj))
          val nFrames = smp.length / VadFrame
          var (se, sa, ne, na) = (0L, 0L, 0L, 0L)
          var f = 0
          while (f < nFrames) {
            var fe = 0L
            var i = f * VadFrame
            val end = i + VadFrame
            while (i < end) { val s = smp(i).toLong; fe += s * s; i += 1 }
            if (fe > VadThreshold) { se += fe; sa += 1 } else { ne += fe; na += 1 }
            f += 1
          }
          val snr =
            if (sa == 0 || na == 0 || ne == 0) Double.NaN
            else BigDecimal(10.0 * math.log10((se.toDouble / sa) / (ne.toDouble / na)))
              .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, sa, na, se, ne, snr, !snr.isNaN && snr < 26.0)
        }
      }(outEnc)
      .toDF("doc_id", "n_voiced", "n_unvoiced", "e_voiced", "e_unvoiced", "snr_db", "low_snr")
  }

  /** DuckDB oracle twin of [[audioSnr]] — the closed-form synthesis with
    * the same saturating noise injection, frame folds, and dB chain. */
  def audioSnrOracleSql: String =
    s"""WITH d AS (SELECT doc_id, 1600 + (doc_id % 97) * 16 AS n FROM documents),
       | s AS (SELECT doc_id, n,
       |        [ CASE WHEN doc_id % 5 = 0
       |               THEN greatest(-32768, least(32767,
       |                 (CASE WHEN ((doc_id * 31 + (i // $VadFrame) * 17) % 7) < 3
       |                       THEN ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |                       ELSE (((doc_id * 7919 + i * 104729) % 65536) - 32768) % 1024 END)
       |                 + ((doc_id * 131 + i * 71) % 4096) - 2048))
       |               ELSE (CASE WHEN ((doc_id * 31 + (i // $VadFrame) * 17) % 7) < 3
       |                          THEN ((doc_id * 7919 + i * 104729) % 65536) - 32768
       |                          ELSE (((doc_id * 7919 + i * 104729) % 65536) - 32768) % 1024 END)
       |          END FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
       |       FROM d),
       | f AS (SELECT doc_id, unnest(range(0, n // $VadFrame)) AS fi, smp FROM s),
       | fe AS (SELECT doc_id,
       |         list_sum(list_transform(
       |           smp[CAST(fi * $VadFrame + 1 AS INT):CAST((fi + 1) * $VadFrame AS INT)],
       |           x -> x * x)) AS fe
       |        FROM f),
       | a AS (SELECT doc_id,
       |        CAST(sum(CASE WHEN fe > $VadThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
       |        CAST(sum(CASE WHEN fe > $VadThreshold THEN 0 ELSE 1 END) AS BIGINT) AS n_unvoiced,
       |        CAST(sum(CASE WHEN fe > $VadThreshold THEN fe ELSE 0 END) AS BIGINT) AS e_voiced,
       |        CAST(sum(CASE WHEN fe > $VadThreshold THEN 0 ELSE fe END) AS BIGINT) AS e_unvoiced
       |       FROM fe GROUP BY doc_id)
       |SELECT doc_id, n_voiced, n_unvoiced, e_voiced, e_unvoiced,
       | CASE WHEN n_voiced = 0 OR n_unvoiced = 0 OR e_unvoiced = 0 THEN CAST('NaN' AS DOUBLE)
       |      ELSE round(10.0 * log10((CAST(e_voiced AS DOUBLE) / n_voiced) /
       |                              (CAST(e_unvoiced AS DOUBLE) / n_unvoiced)), 2) END AS snr_db,
       | (n_voiced > 0 AND n_unvoiced > 0 AND e_unvoiced > 0
       |  AND round(10.0 * log10((CAST(e_voiced AS DOUBLE) / n_voiced) /
       |                         (CAST(e_unvoiced AS DOUBLE) / n_unvoiced)), 2) < 26.0) AS low_snr
       |FROM a""".stripMargin

  // ---------------- fixed-pattern stripe QC (m25) ----------------

  /** Fixed-pattern STRIPE detection (m25) — the banding screen for sensor
    * and microscopy artifacts (readout electronics and scan-line
    * acquisition imprint periodic column stripes; striped frames poison
    * both training and downstream stitching, and EM pipelines de-stripe
    * before alignment): per image, exact integer COLUMN sums and ROW sums
    * from the decoded raster, the max|column mean − global mean| vs the
    * same for rows, and a verdict when column deviation dominates row
    * deviation by 3× and exceeds a floor. Striping is PROVEN by
    * injection: every 6th image gets +60 (saturating) on every 8th
    * column BEFORE the PNG encode — a pure function of (doc_id, x)
    * replayed by the oracle (the 40-level constant below is the verdict
    * FLOOR, not the injection amplitude); natural tiled-text rasters have
    * near-equal column/row deviations, so the verdict fires exactly on
    * the injected.
    *
    * Determinism: both deviations carry the SAME W·H scale
    * (`|colSum·W − total| = W·H·|colMean − mean|`, and symmetrically for
    * rows), so the verdict compares exact integers directly — no
    * division anywhere. One
    * decode + one fused fold per image, zero shuffle (the m19 sweep
    * discipline). */
  def stripeQc(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Long, Long, Boolean)]
    assets(t(spark, dir, "documents"))
      .filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          // stride-131 sampling (the synthFrame device), NOT plain tiling:
          // a tiled raster is itself column-periodic whenever the text
          // length shares factors with W, which reads as natural striping;
          // the coprime stride decorrelates columns from text structure so
          // the verdict isolates the injected pattern
          val raster = new Array[Byte](ThumbW * ThumbH)
          if (payload.length > 0) {
            var i = 0
            while (i < raster.length) {
              raster(i) = payload((i * 131) % payload.length); i += 1
            }
          }
          if (id % 6 == 0) {
            var p = 0
            while (p < raster.length) {
              if (p % ThumbW % 8 == 0)
                raster(p) = math.min(255, (raster(p) & 0xff) + 60).toByte
              p += 1
            }
          }
          val px = imgDecode(imgEncode(raster, ThumbW, ThumbH))._1
          val colSum = new Array[Long](ThumbW)
          val rowSum = new Array[Long](ThumbH)
          var total = 0L
          var p = 0
          while (p < px.length) {
            val v = (px(p) & 0xff).toLong
            colSum(p % ThumbW) += v
            rowSum(p / ThumbW) += v
            total += v
            p += 1
          }
          // scaled integer deviations: |colSum·W − total| is W·H·|colMean −
          // globalMean| (column count = H, W columns); rows symmetric
          var colDev = 0L
          colSum.foreach { s => val d = math.abs(s * ThumbW - total); if (d > colDev) colDev = d }
          var rowDev = 0L
          rowSum.foreach { s => val d = math.abs(s * ThumbH - total); if (d > rowDev) rowDev = d }
          // both devs are W·H·|meanDelta| — compare directly; the 40-level
          // floor (colDev > 40·W·H ⇔ |colMean − mean| > 40) sits between
          // the strongest natural periodicity this corpus produces (~33
          // levels) and the weakest injected stripe (~50)
          val striped = colDev > 3L * rowDev &&
            colDev > 40L * ThumbW * ThumbH
          (id, total, colDev, rowDev, striped)
        }
      }
      .toDF("doc_id", "total", "col_dev", "row_dev", "striped")
  }

  /** DuckDB oracle twin of [[stripeQc]] — the stride-sampled raster as
    * char codes, the same saturating stripe injection, integer column/row
    * folds, and the division-free verdict. */
  def stripeQcOracleSql: String = {
    val ipx = ThumbW * ThumbH
    s"""WITH img AS (SELECT doc_id, text, length(text) AS len
       |       FROM documents WHERE doc_id % 3 = 0),
       | px AS (SELECT doc_id, (i - 1) % $ThumbW AS cx, (i - 1) // $ThumbW AS cy,
       |         CASE WHEN doc_id % 6 = 0 AND (i - 1) % $ThumbW % 8 = 0
       |              THEN least(255, ord(substr(text, CAST(((i - 1) * 131) % len AS INT) + 1, 1)) + 60)
       |              ELSE ord(substr(text, CAST(((i - 1) * 131) % len AS INT) + 1, 1)) END AS v
       |        FROM img, range(1, $ipx + 1) AS u(i)),
       | t AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY doc_id),
       | cd AS (SELECT p.doc_id, max(abs(s * $ThumbW - t.total)) AS col_dev
       |        FROM (SELECT doc_id, cx, sum(v) AS s FROM px GROUP BY doc_id, cx) p
       |        JOIN t USING (doc_id) GROUP BY p.doc_id),
       | rd AS (SELECT p.doc_id, max(abs(s * $ThumbH - t.total)) AS row_dev
       |        FROM (SELECT doc_id, cy, sum(v) AS s FROM px GROUP BY doc_id, cy) p
       |        JOIN t USING (doc_id) GROUP BY p.doc_id)
       |SELECT t.doc_id, CAST(t.total AS BIGINT) AS total,
       | CAST(cd.col_dev AS BIGINT) AS col_dev, CAST(rd.row_dev AS BIGINT) AS row_dev,
       | (cd.col_dev > 3 * rd.row_dev
       |  AND cd.col_dev > 40 * $ThumbW * $ThumbH) AS striped
       |FROM t JOIN cd USING (doc_id) JOIN rd USING (doc_id)""".stripMargin
  }

  // ---------------- blur / focus QC (m27) ----------------

  /** BLUR detection (m27) — the focus screen a vision-data pipeline runs
    * ahead of training (defocused frames, motion smear, and re-encoded
    * upscales carry no high-frequency content and dilute the batch):
    * per image, the integer sum of squared horizontal second differences
    * (the 1-D Laplacian energy) over the decoded raster, and a verdict
    * when that energy falls below a fixed per-sample floor. Blur is
    * PROVEN by injection: every image with `doc_id % 6 == 3` gets a
    * 3-tap horizontal box blur (integer floor mean, interior columns,
    * edges copied) BEFORE the PNG encode — a pure function of the raster
    * replayed by the oracle. Natural text-byte rasters are
    * high-frequency (energy ≥ ~2700·(W−2)·H at every shipped SF); the
    * 3-tap blur divides second-difference amplitude by ~3 and energy by
    * ~9 (≤ ~630·(W−2)·H measured) — the 1200·(W−2)·H floor sits ≥1.9×
    * from both populations.
    *
    * Raster device note: the stride sample must stay coprime to the
    * payload length — `(i·131) mod n` is CONSTANT when n divides the
    * stride multiples (a 131-char doc ships at sf0.01), so the stride
    * falls back to 127 whenever 131 | n (131·127 > any shipped doc).
    * Determinism: all-integer pixels, floor division, integer energy —
    * no floats anywhere. One decode + one fused fold per image, zero
    * shuffle (the m19/m25 sweep discipline). */
  def blurQc(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Boolean)]
    assets(t(spark, dir, "documents"))
      .filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val n = payload.length
          val stride = if (n % 131 == 0) 127 else 131
          val raster = new Array[Byte](ThumbW * ThumbH)
          if (n > 0) {
            var i = 0
            while (i < raster.length) {
              raster(i) = payload((i * stride) % n); i += 1
            }
          }
          val src =
            if (id % 6 == 3) {
              val b = raster.clone()
              var y = 0
              while (y < ThumbH) {
                var x = 1
                while (x < ThumbW - 1) {
                  val p = y * ThumbW + x
                  b(p) = (((raster(p - 1) & 0xff) + (raster(p) & 0xff) +
                    (raster(p + 1) & 0xff)) / 3).toByte
                  x += 1
                }
                y += 1
              }
              b
            } else raster
          val px = imgDecode(imgEncode(src, ThumbW, ThumbH))._1
          var ssl = 0L
          var y = 0
          while (y < ThumbH) {
            var x = 1
            while (x < ThumbW - 1) {
              val p = y * ThumbW + x
              val d = (px(p - 1) & 0xff) + (px(p + 1) & 0xff) - 2 * (px(p) & 0xff)
              ssl += d.toLong * d
              x += 1
            }
            y += 1
          }
          (id, ssl, ssl < 1200L * (ThumbW - 2) * ThumbH)
        }
      }
      .toDF("doc_id", "sharpness", "blurry")
  }

  /** DuckDB oracle twin of [[blurQc]] — the stride-sampled raster (with
    * the 127 coprime fallback) as char codes, the same interior 3-tap
    * floor-mean blur injection, and the integer second-difference energy
    * with the same floor. */
  def blurQcOracleSql: String = {
    val ipx = ThumbW * ThumbH
    s"""WITH img AS (SELECT doc_id, text, length(text) AS len
       |       FROM documents WHERE doc_id % 3 = 0),
       | px AS (SELECT doc_id, (i - 1) % $ThumbW AS cx, (i - 1) // $ThumbW AS cy,
       |         ord(substr(text, CAST(((i - 1) *
       |           (CASE WHEN len % 131 = 0 THEN 127 ELSE 131 END)) % len AS INT) + 1, 1)) AS v
       |        FROM img, range(1, $ipx + 1) AS u(i)),
       | bl AS (SELECT doc_id, cx, cy,
       |         CASE WHEN doc_id % 6 = 3 AND cx BETWEEN 1 AND ${ThumbW - 2}
       |              THEN (lag(v) OVER w + v + lead(v) OVER w) // 3
       |              ELSE v END AS b
       |        FROM px WINDOW w AS (PARTITION BY doc_id, cy ORDER BY cx)),
       | dd AS (SELECT doc_id, cx,
       |         (lag(b) OVER w2 + lead(b) OVER w2 - 2 * b) AS d
       |        FROM bl WINDOW w2 AS (PARTITION BY doc_id, cy ORDER BY cx)),
       | e AS (SELECT doc_id, sum(d * d) AS ssl FROM dd
       |       WHERE cx BETWEEN 1 AND ${ThumbW - 2} GROUP BY doc_id)
       |SELECT doc_id, CAST(ssl AS BIGINT) AS sharpness,
       | (ssl < 1200 * ${ThumbW - 2} * $ThumbH) AS blurry
       |FROM e""".stripMargin
  }

  // ---------------- cross-video near-duplicate detection (m24) ----------------

  /** CROSS-video near-duplicate detection (m24) — the video-corpus analogue
    * of MinHash dedup (re-uploads, re-encodes, and trims of the same clip
    * dominate any crawled video set; m21 finds duplication WITHIN a video,
    * this finds it ACROSS videos): each video reduces to its SET of
    * distinct frame hashes (through the real AVI encode→decode roundtrip),
    * candidate pairs come from an INVERTED INDEX on frame hash (videos
    * sharing no frame never meet — the d3 bucket principle, frame-hash =
    * bucket), and candidates verify by exact frame-set Jaccard ≥ 0.3.
    * Duplication is PROVEN by injection: every 5th video (doc_id ≥ 17)
    * synthesizes its frames from the PAYLOAD of the PREVIOUS video (3 ids
    * earlier — never itself a planted one, so donor frames stay its own;
    * a pure function replayed by the oracle), so those pairs share a
    * frame prefix and must surface with Jaccard = min(nf)/max(nf)-ish,
    * while unrelated payloads share nothing.
    *
    * Scale shape: hashes are one decode pass per video (zero shuffle); the
    * index join shuffles (video × distinct-frame) rows; verification
    * touches only hash collisions — no all-pairs anywhere. */
  def videoDup(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[(Long, Array[Byte])]
    val outEnc = Encoders.product[(Long, String)]
    val vids = assets(t(spark, dir, "documents"))
      .filter(col("modality") === "video")
      .select(col("doc_id"), col("payload"))
    val donors = vids.select(col("doc_id").as("src_id"), col("payload").as("src_payload"))
    val withDup = vids
      .withColumn("src_id",
        when(expr("(doc_id div 3) % 5 = 0") && col("doc_id") >= 17, col("doc_id") - 3)
          .otherwise(col("doc_id")))
      .drop("payload").join(donors, Seq("src_id"))
      .select(col("doc_id"), col("src_payload").as("payload"))
    val fh = materialize(withDup.as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val frames = (0 until videoFrameCount(id)).map(f => synthFrame(payload, f))
        val (decoded, _, _, _) = aviDecode(aviEncode(frames, VideoW, VideoH, videoFps(id)))
        decoded.map(fr => java.security.MessageDigest.getInstance("MD5")
          .digest(fr).map("%02x".format(_)).mkString).distinct.map(h => (id, h))
      })(outEnc).toDF("doc_id", "h"))
    val sizes = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    fh.select(col("doc_id").as("a"), col("h"))
      .join(fh.select(col("doc_id").as("b"), col("h")), Seq("h"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("a"), col("nf").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("nf").as("nb")), Seq("b"))
      .withColumn("jac", col("shared").cast(DoubleType) /
        (col("na") + col("nb") - col("shared")))
      .filter(col("jac") >= 0.3)
      .select(col("a"), col("b"), col("na"), col("nb"), col("shared"),
        round(col("jac"), 4).as("jac"))
  }

  /** DuckDB oracle twin of [[videoDup]] — the m21 closed-form frame device
    * (frame raster ≡ a substr of the cyclically repeated text, hashed with
    * the same md5) under the same donor-payload injection, inverted-index
    * pairing, and Jaccard threshold. */
  def videoDupOracleSql: String = {
    val px = VideoW * VideoH
    s"""WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
       | src AS (SELECT a.doc_id, b.text, octet_length(encode(b.text)) AS len,
       |          4 + (a.doc_id % 7) AS nf
       |         FROM v a JOIN v b ON b.doc_id =
       |           CASE WHEN (a.doc_id // 3) % 5 = 0 AND a.doc_id >= 17
       |                THEN a.doc_id - 3 ELSE a.doc_id END),
       | f AS (SELECT doc_id, text, len, unnest(range(0, nf)) AS fno FROM src),
       | r AS (SELECT DISTINCT doc_id,
       |        md5(substr(repeat(text,
       |              CAST(ceil(((fno * $FrameStride) % len + $px.0) / len) AS INT) + 1),
       |            CAST((fno * $FrameStride) % len AS INT) + 1, $px)) AS h
       |       FROM f),
       | sz AS (SELECT doc_id, count(*) AS nf FROM r GROUP BY doc_id),
       | p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
       |       FROM r x JOIN r y ON x.h = y.h AND x.doc_id < y.doc_id
       |       GROUP BY 1, 2)
       |SELECT p.a, p.b, CAST(sa.nf AS BIGINT) AS na, CAST(sb.nf AS BIGINT) AS nb,
       | CAST(p.shared AS BIGINT) AS shared,
       | round(CAST(p.shared AS DOUBLE) / (sa.nf + sb.nf - p.shared), 4) AS jac
       |FROM p JOIN sz sa ON sa.doc_id = p.a JOIN sz sb ON sb.doc_id = p.b
       |WHERE CAST(p.shared AS DOUBLE) / (sa.nf + sb.nf - p.shared) >= 0.3""".stripMargin
  }

  // ---------------- audio DC-offset / clipping QC (m23) ----------------

  /** Audio DC-offset & clipping QC (m23) — the electrical-fault screen an
    * audio-ingest pipeline runs before feature extraction (a DC-biased
    * recording wastes dynamic range, breaks zero-crossing features (m11),
    * and pops on concatenation; asymmetric clipping is its visible
    * symptom): per clip, the exact integer sample sum, the mean (DC) to 4
    * decimals, and the rail-hit counts at both extremes. Detection is
    * PROVEN: every 4th audio document gets `(1 + doc_id % 5) · 2000`
    * added to every sample (saturating at the int16 rails) BEFORE the WAV
    * encode — the natural fixture's |DC| never exceeds ~485, so the > 600
    * flag fires exactly on the injected clips, and the saturation counts
    * prove the codec carries rail values losslessly.
    *
    * Scale shape: one decode + one fused integer fold per clip in a single
    * `mapPartitions` — row-local, zero shuffle (the m18/m19 sweep
    * discipline). */
  def audioDcQc(spark: SparkSession, dir: String): DataFrame = {
    implicit val inEnc = Encoders.scalaLong
    val outEnc = Encoders.product[(Long, Long, Long, Long, Long, Double, Boolean)]
    t(spark, dir, "documents").filter(pmod(col("doc_id"), lit(3)) === 1) // audio rows
      .select(col("doc_id")).as[Long](inEnc)
      .mapPartitions { it =>
        it.map { id =>
          val off = if (id % 12 == 1) (1 + id % 5) * 2000 else 0L
          val adj = synthSamples(id).map { s =>
            math.max(-32768L, math.min(32767L, s.toLong + off)).toShort
          }
          val (smp, _, _, _) = wavDecode(wavEncode(adj))
          var sum = 0L; var hi = 0L; var lo = 0L
          smp.foreach { s =>
            sum += s
            if (s == 32767) hi += 1
            if (s == -32768) lo += 1
          }
          val n = smp.length.toLong
          val dc = BigDecimal(sum.toDouble / n)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, n, sum, hi, lo, dc, math.abs(dc) > 600.0)
        }
      }(outEnc).toDF("doc_id", "n", "sum_s", "n_clip_hi", "n_clip_lo", "dc", "dc_flag")
  }

  /** DuckDB oracle twin of [[audioDcQc]] — the closed-form synthesis, the
    * same saturating offset, integer folds, and rounded-mean threshold. */
  def audioDcQcOracleSql: String =
    """WITH d AS (SELECT doc_id, 400 + (doc_id % 97) * 8 AS n,
      |            CASE WHEN doc_id % 12 = 1 THEN (1 + doc_id % 5) * 2000 ELSE 0 END AS off
      |           FROM documents WHERE doc_id % 3 = 1),
      | s AS (SELECT doc_id, n,
      |        [ greatest(-32768, least(32767,
      |            ((doc_id * 7919 + i * 104729) % 65536) - 32768 + off))
      |          FOR i IN range(0, CAST(n AS BIGINT)) ] AS smp
      |       FROM d),
      | f AS (SELECT doc_id, n,
      |        CAST(list_sum(smp) AS BIGINT) AS sum_s,
      |        CAST(len(list_filter(smp, x -> x = 32767)) AS BIGINT) AS n_clip_hi,
      |        CAST(len(list_filter(smp, x -> x = -32768)) AS BIGINT) AS n_clip_lo
      |       FROM s)
      |SELECT doc_id, CAST(n AS BIGINT) AS n, sum_s, n_clip_hi, n_clip_lo,
      | round(CAST(sum_s AS DOUBLE) / n, 4) AS dc,
      | (abs(round(CAST(sum_s AS DOUBLE) / n, 4)) > 600.0) AS dc_flag
      |FROM f""".stripMargin

  // ---------------- letterbox / border-crop QC (m22) ----------------

  /** Letterbox detection + crop accounting (m22) — the border screen a
    * vision pipeline runs before patching/embedding (black letterbox bars
    * poison contrastive training and waste patch budget; every large image
    * corpus crops them at ingest): scan decoded rows from the top and
    * bottom for ALL-ZERO runs and report the crop box. Detection is
    * PROVEN, not hoped: every 5th image gets `b = 3 + (doc_id % 20) / 5`
    * black rows painted onto both edges BEFORE the PNG encode (a pure
    * function of doc_id replayed by the oracle; the printable-ASCII
    * fixture rasters are never zero, so natural rows cannot read as
    * bars — and the roundtrip also proves the codec carries full-black
    * rows losslessly).
    *
    * Scale shape: one decode + two short row scans per image inside a
    * single `mapPartitions` — row-local, zero shuffle, the m19 QC-sweep
    * discipline. */
  def imageBorderQc(spark: SparkSession, dir: String): DataFrame = {
    implicit val outEnc = Encoders.product[(Long, Long, Long, Long, Boolean)]
    assets(t(spark, dir, "documents"))
      .filter(col("modality") === "image")
      .select(col("doc_id"), col("payload"))
      .as(Encoders.product[(Long, Array[Byte])])
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val raster = tileRaster(payload, ThumbW, ThumbH)
          if (id % 5 == 0) {
            val b = (3 + (id % 20) / 5).toInt
            var r = 0
            while (r < ThumbH) {
              if (r < b || r >= ThumbH - b)
                java.util.Arrays.fill(raster, r * ThumbW, (r + 1) * ThumbW, 0.toByte)
              r += 1
            }
          }
          val px = imgDecode(imgEncode(raster, ThumbW, ThumbH))._1
          def rowBlack(r: Int): Boolean = {
            var i = r * ThumbW; val end = i + ThumbW
            while (i < end && px(i) == 0) i += 1
            i == end
          }
          var top = 0
          while (top < ThumbH && rowBlack(top)) top += 1
          var lastnb = ThumbH - 1
          while (lastnb >= 0 && rowBlack(lastnb)) lastnb -= 1
          (id, top.toLong, (ThumbH - 1 - lastnb).toLong, (lastnb + 1 - top).toLong,
            top >= 2 && ThumbH - 1 - lastnb >= 2)
        }
      }
      .toDF("doc_id", "n_top", "n_bot", "crop_h", "letterboxed")
  }

  /** DuckDB oracle twin of [[imageBorderQc]] — the tiled raster as char
    * codes, the same bar injection, per-row max fold, and edge-run scan. */
  def imageBorderQcOracleSql: String = {
    val ipx = ThumbW * ThumbH
    s"""WITH img AS (SELECT doc_id,
       |        substr(repeat(text, CAST(ceil($ipx.0 / length(text)) AS INT)), 1, $ipx) AS raster
       |       FROM documents WHERE doc_id % 3 = 0),
       | rws AS (SELECT doc_id, r,
       |          CASE WHEN doc_id % 5 = 0
       |                AND (r < 3 + (doc_id % 20) // 5
       |                     OR r >= $ThumbH - (3 + (doc_id % 20) // 5)) THEN 0
       |               ELSE list_max([ord(substr(raster, CAST(r * $ThumbW + i AS INT), 1))
       |                              for i in range(1, $ThumbW + 1)]) END AS rowmax
       |         FROM img, range(0, $ThumbH) AS rr(r)),
       | f AS (SELECT doc_id,
       |        coalesce(min(CASE WHEN rowmax > 0 THEN r END), $ThumbH) AS n_top,
       |        coalesce(max(CASE WHEN rowmax > 0 THEN r END), -1) AS lastnb
       |       FROM rws GROUP BY doc_id)
       |SELECT doc_id, CAST(n_top AS BIGINT) AS n_top,
       | CAST(${ThumbH - 1} - lastnb AS BIGINT) AS n_bot,
       | CAST(lastnb + 1 - n_top AS BIGINT) AS crop_h,
       | (n_top >= 2 AND ${ThumbH - 1} - lastnb >= 2) AS letterboxed
       |FROM f""".stripMargin
  }
}
