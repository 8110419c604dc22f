package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Meta, N5Block}
import graft.core.Grid.Box
import graft.testutil.SparkSuite
import graft.volume.VoxelBuffer

/** N5 format coverage. Goldens are handcrafted from the PUBLIC spec
  * (github.com/saalfeldlab/n5 README — no n5 library in this container):
  * blocks written with java-DataOutputStream semantics (big-endian header
  * AND values, d0-fastest payload, nested `g0/g1/g2` paths), so a correct
  * reader must get framing, endianness, key nesting, and edge clipping
  * exactly right to reproduce them. */
class N5Spec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def beU16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)

  private def writeBlock(root: String, g0: Int, g1: Int, g2: Int,
      dims: (Int, Int, Int), payload: Array[Byte]): Unit = {
    val p = Paths.get(root, g0.toString, g1.toString, g2.toString)
    Files.createDirectories(p.getParent)
    Files.write(p, N5Block.header(dims._1, dims._2, dims._3) ++ payload)
  }

  /** Handcraft a raw uint16 store: dimensions [16, 8, 4] (d0,d1,d2),
    * blockSize [8, 4, 2], value(d0,d1,d2) = d0*100 + d1*10 + d2. */
  private def handcraftStore(): String = {
    val root = SparkSuite.tempDir("graft-n5-golden")
    Files.writeString(Paths.get(root, "attributes.json"),
      """{"dimensions": [16, 8, 4], "blockSize": [8, 4, 2],
        | "dataType": "uint16", "compression": {"type": "raw"}}""".stripMargin)
    for (g0 <- 0 until 2; g1 <- 0 until 2; g2 <- 0 until 2) {
      // payload order: d0 fastest, then d1, then d2; values big-endian
      val payload = (for {
        i2 <- 0 until 2; i1 <- 0 until 4; i0 <- 0 until 8
      } yield beU16((g0 * 8 + i0) * 100 + (g1 * 4 + i1) * 10 + (g2 * 2 + i2))).flatten
      writeBlock(root, g0, g1, g2, (8, 4, 2), payload.toArray)
    }
    root
  }

  test("golden: handcrafted big-endian store reads exactly") {
    val vol = N5.open(spark, handcraftStore())
    assert(vol.ctx.volumeBox == Box(1, 16, 1, 8, 1, 4)) // d0→x, d1→y, d2→z
    assert(vol.ctx.chunkSize == (8, 4, 2))
    val cut = vol.cutout(Box(1, 16, 1, 8, 1, 4))
    for (z <- 1 to 4; y <- 1 to 8; x <- 1 to 16)
      assert(cut.getLong(x - 1, y - 1, z - 1) == (x - 1) * 100 + (y - 1) * 10 + (z - 1),
        s"voxel ($x, $y, $z)")
    // SQL over the n5 voxel view
    val sum = vol.toVoxels(Box(1, 16, 1, 1, 1, 1))
      .agg(org.apache.spark.sql.functions.sum("value")).collect().head.getLong(0)
    assert(sum == (0 until 16).map(_ * 100).sum)
  }

  test("golden: edge blocks are clipped (header carries actual size)") {
    // dimensions [10, 4, 2]: second d0-block is 2 wide, stored at its real size
    val root = SparkSuite.tempDir("graft-n5-edge")
    Files.writeString(Paths.get(root, "attributes.json"),
      """{"dimensions": [10, 4, 2], "blockSize": [8, 4, 2],
        | "dataType": "uint8", "compressionType": "raw"}""".stripMargin) // legacy field
    writeBlock(root, 0, 0, 0, (8, 4, 2), Array.tabulate[Byte](64)(_.toByte))
    writeBlock(root, 1, 0, 0, (2, 4, 2), Array.tabulate[Byte](16)(i => (100 + i).toByte))
    val vol = N5.open(spark, root)
    val cut = vol.cutout(Box(1, 10, 1, 4, 1, 2))
    for (z <- 1 to 2; y <- 1 to 4; x <- 1 to 8)
      assert(cut.getLong(x - 1, y - 1, z - 1) == (z - 1) * 32 + (y - 1) * 8 + (x - 1))
    for (z <- 1 to 2; y <- 1 to 4; x <- 9 to 10)
      assert(cut.getLong(x - 1, y - 1, z - 1) == 100 + (z - 1) * 8 + (y - 1) * 2 + (x - 9))
  }

  test("decode rejects a block whose header dims disagree with the grid") {
    val root = SparkSuite.tempDir("graft-n5-baddims")
    Files.writeString(Paths.get(root, "attributes.json"),
      """{"dimensions": [8, 4, 2], "blockSize": [8, 4, 2],
        | "dataType": "uint8", "compression": {"type": "raw"}}""".stripMargin)
    writeBlock(root, 0, 0, 0, (4, 4, 2), Array.fill[Byte](32)(1)) // wrong dims
    val e = intercept[IllegalArgumentException] {
      N5.open(spark, root).cutout(Box(1, 8, 1, 4, 1, 2))
    }
    assert(e.getMessage.contains("header dims"), e.getMessage)
  }

  test("roundtrip: create + ingest + reopen + cutout across codecs and dtypes") {
    for ((enc, dt) <- Seq(("gzip", Meta.TUInt16), ("raw", Meta.TUInt8),
        ("gzip", Meta.TFloat32), ("raw", Meta.TUInt64))) {
      val root = SparkSuite.tempDir(s"graft-n5-rt-$enc-${dt.name}")
      val engEnc = if (enc == "raw") "identity" else enc
      val vol = N5.create(spark, root, shape = (20, 12, 6), blockSize = (8, 4, 2),
        dataType = dt, encoding = engEnc)
      vol.ingest(VoxelBuffer.sequenced(dt, 20, 12, 6, 1, (1, 1, 1)))
      val re = N5.open(spark, root)
      assert(re.ctx.encoding == engEnc, s"$enc reopened")
      val cut = re.cutout(Box(3, 14, 2, 9, 1, 6))
      val full = VoxelBuffer.sequenced(dt, 20, 12, 6, 1, (1, 1, 1))
      def v(b: VoxelBuffer, x: Int, y: Int, z: Int): Any = dt match {
        case Meta.TFloat32 | Meta.TFloat64 => b.getDouble(x, y, z)
        case _ => b.getLong(x, y, z)
      }
      for (z <- 1 to 6; y <- 2 to 9; x <- 3 to 14)
        assert(v(cut, x - 3, y - 2, z - 1) == v(full, x - 1, y - 1, z - 1),
          s"($x,$y,$z) enc=$enc dt=${dt.name}")
    }
  }

  test("blocks on disk are spec-shaped (header + big-endian payload)") {
    val root = SparkSuite.tempDir("graft-n5-bytes")
    val vol = N5.create(spark, root, shape = (4, 2, 2), blockSize = (4, 2, 2),
      dataType = Meta.TUInt16, encoding = "identity")
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 4, 2, 2, 1, (1, 1, 1)))
    val blob = Files.readAllBytes(Paths.get(root, "0", "0", "0"))
    val (dims, payload) = N5Block.strip(blob)
    assert(dims == ((4, 2, 2)))
    assert(payload.length == 4 * 2 * 2 * 2)
    // payload = source values as big-endian u16, d0 fastest
    val src = VoxelBuffer.sequenced(Meta.TUInt16, 4, 2, 2, 1, (1, 1, 1))
    for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 4) {
      val i = x + 4 * (y + 2 * z)
      val v = src.getLong(x, y, z).toInt
      assert(payload(2 * i) == ((v >> 8).toByte), s"hi byte @($x,$y,$z)")
      assert(payload(2 * i + 1) == (v.toByte), s"lo byte @($x,$y,$z)")
    }
  }

  test("attributes parse rejects unsupported rank/dtype/compression loudly") {
    intercept[IllegalArgumentException] { N5.parseAttributes(
      """{"dimensions": [4, 4], "blockSize": [2, 2], "dataType": "uint8",
        | "compression": {"type": "raw"}}""".stripMargin) }
    intercept[IllegalArgumentException] { N5.parseAttributes(
      """{"dimensions": [4, 4, 4], "blockSize": [2, 2, 2], "dataType": "int8",
        | "compression": {"type": "raw"}}""".stripMargin) }
    intercept[IllegalArgumentException] { N5.parseAttributes(
      """{"dimensions": [4, 4, 4], "blockSize": [2, 2, 2], "dataType": "uint8",
        | "compression": {"type": "lz4"}}""".stripMargin) }
    // legacy compressionType string accepted
    assert(N5.parseAttributes(
      """{"dimensions": [4, 4, 4], "blockSize": [2, 2, 2], "dataType": "uint8",
        | "compressionType": "gzip"}""".stripMargin).encoding == "gzip")
  }
}
