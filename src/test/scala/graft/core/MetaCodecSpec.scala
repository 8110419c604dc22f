package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.testutil.MiniProp

class MetaCodecSpec extends AnyFunSuite with MiniProp {

  // Same schema as the reference's test fixture (test/BinDicts.jl:13-18):
  // two mips, negative offsets, non-aligned grids.
  val fixtureInfo: String =
    """{"num_channels": 1, "type": "image", "data_type": "uint8", "scales": [
      |  {"encoding": "gzip", "chunk_sizes": [[100, 100, 5]], "key": "6_6_30",
      |   "resolution": [6, 6, 30], "voxel_offset": [-300, -300, -10],
      |   "size": [510, 510, 2022]},
      |  {"encoding": "gzip", "chunk_sizes": [[100, 100, 5]], "key": "12_12_30",
      |   "resolution": [12, 12, 30], "voxel_offset": [-597, -597, -103],
      |   "size": [12286, 11262, 2046]}]}""".stripMargin

  test("info JSON parses to VolumeMeta") {
    val m = Meta.parse(fixtureInfo)
    assert(m.dataType == Meta.TUInt8)
    assert(m.numChannels == 1)
    assert(m.ndims == 3)
    assert(m.scales.length == 2)
    val s1 = m.scale(1)
    assert(s1.key == "6_6_30" && s1.chunkSize == (100, 100, 5))
    assert(s1.voxelOffset == (-300, -300, -10))
    assert(s1.volumeBox == Grid.Box(-299, 210, -299, 210, -9, 2012))
    val s2 = m.scale(2)
    assert(s2.voxelOffset == (-597, -597, -103))
  }

  test("info JSON roundtrips") {
    val m = Meta.parse(fixtureInfo)
    val m2 = Meta.parse(Meta.toJson(m))
    assert(m == m2)
  }

  test("nextMip halves x/y only, keeps chunk size and encoding (Infos.jl:169-178)") {
    val s = Meta.parse(fixtureInfo).scale(1)
    val n = s.nextMip
    assert(n.resolution == (12.0, 12.0, 30.0))
    assert(n.key == "12_12_30")
    assert(n.chunkSize == s.chunkSize && n.encoding == s.encoding)
    assert(n.size == (255, 255, 2022))
    assert(n.voxelOffset == (-150, -150, -10))
  }

  test("withNumMips extends the pyramid") {
    val m = Meta.parse(fixtureInfo).copy(scales = Meta.parse(fixtureInfo).scales.take(1))
    val m4 = m.withNumMips(4)
    assert(m4.scales.length == 4)
    assert(m4.scale(2).resolution._1 == 12.0)
    assert(m4.scale(3).resolution._1 == 24.0)
  }

  test("all voxel types parse and carry byte sizes") {
    assert(Meta.VoxelType.fromName("uint64").byteSize == 8)
    assert(Meta.VoxelType.fromName("float32").byteSize == 4)
    assertThrows[IllegalArgumentException](Meta.VoxelType.fromName("int128"))
  }

  test("codec roundtrip: gzip and zstd, arbitrary bytes") {
    forAll(Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      assert(Codec.GzipCodec.decode(Codec.GzipCodec.encode(bytes)).sameElements(bytes))
      assert(Codec.ZstdCodec.decode(Codec.ZstdCodec.encode(bytes)).sameElements(bytes))
    }
  }

  test("decode magic-sniff passthrough (Codings.jl:52-57, 66-72)") {
    val plain = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    assert(Codec.GzipCodec.decode(plain).sameElements(plain))
    assert(Codec.ZstdCodec.decode(plain).sameElements(plain))
  }

  test("size-aware gzip and zlib decode: exact, short, long, truncated, multi-member, passthrough") {
    val bytes = Array.tabulate[Byte](5000)(i => (i * 31 % 251).toByte)
    for (c <- Seq(Codec.GzipCodec, Codec.ZlibCodec)) {
      val blob = c.encode(bytes)
      assert(c.decode(blob, bytes.length).sameElements(bytes), c.name)
      // a wrong expected size returns what the blob holds, for the caller's shape check
      assert(c.decode(blob, bytes.length + 7).sameElements(bytes), c.name)
      assert(c.decode(blob, bytes.length - 7).sameElements(bytes), c.name)
      assert(c.decode(blob, 0).sameElements(bytes), c.name)
      assertThrows[Exception](c.decode(blob.take(blob.length / 2), bytes.length))
      val plain = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
      assert(c.decode(plain, 64) eq plain, c.name)
    }
    // a corrupt gzip trailer still fails once the payload is inflated
    val gz = Codec.GzipCodec.encode(bytes)
    val badCrc = gz.clone(); badCrc(badCrc.length - 8) = (badCrc(badCrc.length - 8) ^ 1).toByte
    assertThrows[java.util.zip.ZipException](Codec.GzipCodec.decode(badCrc, bytes.length))
    // two concatenated members decode as one stream
    val (a, b) = bytes.splitAt(1234)
    val twoMembers = Codec.GzipCodec.encode(a) ++ Codec.GzipCodec.encode(b)
    assert(Codec.GzipCodec.decode(twoMembers, bytes.length).sameElements(bytes))
    assert(Codec.GzipCodec.decode(twoMembers, a.length).sameElements(bytes))
  }

  test("'raw' encoding aliases to gzip (Infos.jl:24-25); unknown rejected") {
    assert(Codec.forEncoding("raw") == Codec.GzipCodec)
    assert(Codec.forEncoding("gzip") == Codec.GzipCodec)
    assert(Codec.forEncoding("zstd") == Codec.ZstdCodec)
    assert(Codec.forEncoding("blosclz", 4) == Codec.BloscCodec(4))
    assertThrows[IllegalArgumentException](Codec.forEncoding("nope"))
    // jpeg: decode-only, like the reference
    assert(Codec.forEncoding("jpeg") == Codec.JpegCodec)
    assertThrows[UnsupportedOperationException](Codec.JpegCodec.encode(Array[Byte](1)))
  }

  test("jpeg decode reads an ImageIO-encoded grayscale raster in chunk order") {
    val w = 8; val h = 6
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, (x * 30 + y * 5) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", bos)
    val decoded = Codec.JpegCodec.decode(bos.toByteArray)
    assert(decoded.length == w * h)
    // lossy codec: values approximate the source (same quantization both ways)
    val err = (for (y <- 0 until h; x <- 0 until w)
      yield math.abs((decoded(y * w + x) & 0xff) - (x * 30 + y * 5) % 256)).sum.toDouble / (w * h)
    assert(err < 30, s"mean abs error $err")
  }
}
