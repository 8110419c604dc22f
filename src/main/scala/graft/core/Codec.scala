package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Chunk-blob compression codecs (reference: src/Codings.jl).
  *
  * Decode magic-number sniffing is preserved: a blob whose bytes don't start
  * with the codec's magic passes through undecoded
  * (reference: src/Codings.jl:52-57 zstd, 66-72 gzip) — this is how
  * stores that transparently (de)compress stay readable.
  *
  * The encoding registry maps the info `encoding` string to a codec, with the
  * reference's surprising-but-load-bearing rule that `"raw"` chunks are
  * gzip-compressed at rest (reference: src/Infos.jl:23-30 "the raw encoding in
  * cloud storage will be automatically gzip encoded"), and gzip is the default
  * (reference: src/Codings.jl:37).
  */
object Codec {

  sealed trait ChunkCodec extends Serializable {
    def name: String
    def encode(raw: Array[Byte]): Array[Byte]
    def decode(blob: Array[Byte]): Array[Byte]
    /** Decode a blob the caller expects to hold `rawLen` bytes. A codec
      * that can inflate straight into an array of that size overrides
      * this; the result is still whatever the blob holds, so a wrong size
      * fails the caller's shape check, not here. */
    def decode(blob: Array[Byte], rawLen: Int): Array[Byte] = decode(blob)
  }

  /** Identity (reference: src/Codings.jl:39-45). Only reachable by explicit
    * request — the registry aliases "raw" to gzip like the reference. */
  case object RawCodec extends ChunkCodec {
    val name = "identity"
    def encode(raw: Array[Byte]): Array[Byte] = raw
    def decode(blob: Array[Byte]): Array[Byte] = blob
  }

  private val GzipMagic = Array[Byte](0x1f, 0x8b.toByte, 0x08)
  private val ZstdMagic = Array[Byte](0x28, 0xb5.toByte, 0x2f, 0xfd.toByte)

  private def hasMagic(b: Array[Byte], magic: Array[Byte]): Boolean =
    b.length >= magic.length && magic.indices.forall(i => b(i) == magic(i))

  /** reference: src/Codings.jl:60-72. */
  case object GzipCodec extends ChunkCodec {
    val name = "gzip"
    def encode(raw: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(raw.length / 2 + 64)
      val gz = new GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      bos.toByteArray
    }
    def decode(blob: Array[Byte]): Array[Byte] =
      if (!hasMagic(blob, GzipMagic)) blob // magic-sniff passthrough
      else {
        val in = new GZIPInputStream(new ByteArrayInputStream(blob))
        val out = new ByteArrayOutputStream(blob.length * 3 + 64)
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        in.close()
        out.toByteArray
      }
    /** Inflates into one `rawLen`-byte array through a 64 KiB input buffer,
      * then reads to EOF, which checks the trailer (and reads any further
      * member); a longer stream falls back to the one-argument `decode`. */
    override def decode(blob: Array[Byte], rawLen: Int): Array[Byte] =
      if (!hasMagic(blob, GzipMagic)) blob
      else {
        val in = new GZIPInputStream(new ByteArrayInputStream(blob), 64 * 1024)
        try {
          val out = new Array[Byte](rawLen)
          val n = in.readNBytes(out, 0, rawLen)
          if (n < rawLen) java.util.Arrays.copyOf(out, n)
          else if (in.read() < 0) out
          else decode(blob)
        } finally in.close()
      }
  }

  /** reference: src/Codings.jl:47-57; zstd-jni ships with Spark. */
  case object ZstdCodec extends ChunkCodec {
    val name = "zstd"
    def encode(raw: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(raw)
    def decode(blob: Array[Byte]): Array[Byte] =
      if (!hasMagic(blob, ZstdMagic)) blob // magic-sniff passthrough
      else {
        val size = com.github.luben.zstd.Zstd.getFrameContentSize(blob)
        if (size > 0 && size <= Int.MaxValue - 64L)
          com.github.luben.zstd.Zstd.decompress(blob, size.toInt)
        else {
          // frames from streaming writers carry no content size (the jni
          // call returns a <=0 sentinel): fall back to streaming decode
          val in = new com.github.luben.zstd.ZstdInputStream(
            new ByteArrayInputStream(blob))
          try {
            val out = new ByteArrayOutputStream(blob.length * 4 + 64)
            val buf = new Array[Byte](64 * 1024)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
            out.toByteArray
          } finally in.close()
        }
      }
  }

  /** JPEG is decode-only, like the reference declares (encode errors:
    * src/Codings.jl:92-94; decode was disabled there by a packaging issue —
    * here javax.imageio decodes for real). The decoded grayscale raster is
    * returned in the chunk byte order (x fastest); JPEG is lossy, so no
    * roundtrip guarantee — this exists to READ existing jpeg-encoded stores. */
  case object JpegCodec extends ChunkCodec {
    val name = "jpeg"
    def encode(raw: Array[Byte]): Array[Byte] =
      throw new UnsupportedOperationException(
        "jpeg encoding is unimplemented (decode-only, like the reference: src/Codings.jl:92-94)")
    def decode(blob: Array[Byte]): Array[Byte] = {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(blob))
      require(img != null, "not a decodable image blob")
      val w = img.getWidth; val h = img.getHeight
      val raster = img.getRaster
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(y * w + x) = raster.getSample(x, y, 0).toByte
          x += 1
        }
        y += 1
      }
      // precomputed jpeg chunks store the 3-d block as a stack of z-slices in
      // one tall image (width = sx, height = sy*sz); row-major image rows
      // map to the x-fastest chunk order directly under that convention
      out
    }
  }

  /** Raw zlib (RFC 1950: deflate + adler32) — numcodecs' `zlib` compressor
    * as used by zarr v2 stores. NOT gzip (different framing). Magic-sniffed
    * like the other codecs: 0x78 first byte with a valid FCHECK second
    * byte. */
  case object ZlibCodec extends ChunkCodec {
    val name = "zlib"
    def encode(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream(raw.length / 2 + 64)
      val buf = new Array[Byte](64 * 1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    }
    private def sniff(blob: Array[Byte]): Boolean =
      blob.length >= 2 && (blob(0) & 0xff) == 0x78 &&
        (((blob(0) & 0xff) << 8) | (blob(1) & 0xff)) % 31 == 0
    def decode(blob: Array[Byte]): Array[Byte] = {
      if (!sniff(blob)) return blob // passthrough, consistent with gzip/zstd
      val inf = new java.util.zip.Inflater()
      inf.setInput(blob)
      val out = new ByteArrayOutputStream(blob.length * 3 + 64)
      val buf = new Array[Byte](64 * 1024)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput()) throw new IllegalArgumentException("zlib: truncated stream")
          out.write(buf, 0, n)
        }
      } finally inf.end()
      out.toByteArray
    }
    /** Inflates into one `rawLen`-byte array; a longer stream falls back
      * to the one-argument `decode`. */
    override def decode(blob: Array[Byte], rawLen: Int): Array[Byte] = {
      if (!sniff(blob)) return blob
      val inf = new java.util.zip.Inflater()
      inf.setInput(blob)
      try {
        val out = new Array[Byte](rawLen)
        val probe = new Array[Byte](1)
        var n = 0
        while (!inf.finished()) {
          val k = if (n < rawLen) inf.inflate(out, n, rawLen - n) else inf.inflate(probe)
          if (k == 0 && inf.needsInput()) throw new IllegalArgumentException("zlib: truncated stream")
          if (n == rawLen && k > 0) return decode(blob)
          n += k
        }
        if (n == rawLen) out else java.util.Arrays.copyOf(out, n)
      } finally inf.end()
    }
  }

  /** Blosc container + blosclz codec, pure-JVM (graft.core.Blosc) — the
    * reference's `Blosc.compress(data)` / `Blosc.decompress(UInt8, data)`
    * (reference: src/Codings.jl:74-80). `typesize` drives the byte-shuffle
    * filter on encode exactly like Julia Blosc's `sizeof(eltype)` default;
    * decode honors whatever the header declares. */
  final case class BloscCodec(typesize: Int = 1) extends ChunkCodec {
    val name = "blosclz"
    def encode(raw: Array[Byte]): Array[Byte] =
      Blosc.compress(raw, typesize, shuffle = typesize > 1)
    def decode(blob: Array[Byte]): Array[Byte] = Blosc.decompress(blob)
  }

  /** Encoding-string → codec registry (reference: src/Infos.jl:23-30).
    * `typesize` only affects blosclz (shuffle filter width on encode). */
  def forEncoding(encoding: String, typesize: Int = 1): ChunkCodec = encoding match {
    case "raw" => GzipCodec // src/Infos.jl:24-25
    case "gzip" => GzipCodec
    case "zstd" => ZstdCodec
    case "zlib" => ZlibCodec
    case "identity" => RawCodec
    case "jpeg" => JpegCodec
    case "blosclz" => BloscCodec(typesize)
    case other => throw new IllegalArgumentException(s"unknown encoding: $other")
  }
}
