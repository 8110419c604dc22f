package graft.sources

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Meta, MrcFormat}
import graft.core.Grid.Box
import graft.testutil.SparkSuite
import graft.volume.VoxelBuffer

/** MRC2014 single-file volumes: header codec goldens, export→open
  * roundtrips across the supported modes, ranged-GET read amplification,
  * and the loud failure paths (big-endian, bad magic, signed mode,
  * chunk-grain writes). */
class MrcSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("header golden: fixed offsets of the MRC2014 layout") {
    val h = MrcFormat.header(20, 12, 8, Meta.TUInt16)
    assert(h.length == 1024)
    val b = java.nio.ByteBuffer.wrap(h).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert((b.getInt(0), b.getInt(4), b.getInt(8)) == ((20, 12, 8)))
    assert(b.getInt(12) == 6) // mode 6 = uint16
    assert((b.getInt(28), b.getInt(32), b.getInt(36)) == ((20, 12, 8))) // mx,my,mz
    assert((b.getInt(64), b.getInt(68), b.getInt(72)) == ((1, 2, 3)))   // mapc,mapr,maps
    assert(b.getInt(92) == 0) // nsymbt
    assert(new String(h.slice(104, 108), "US-ASCII") == "MRCO") // EXTTYP
    assert(b.getInt(108) == 20140) // NVERSION
    assert(new String(h.slice(208, 212), "US-ASCII") == "MAP ")
    assert((h(212) & 0xFF) == 0x44 && (h(213) & 0xFF) == 0x44) // LE stamp
    val g = MrcFormat.parseHeader(h)
    assert(g == MrcFormat.Geometry(20, 12, 8, Meta.TUInt16, 1024L))
  }

  test("parse honors the extended header: data offset shifts by nsymbt") {
    val h = MrcFormat.header(4, 4, 2, Meta.TUInt8)
    val b = java.nio.ByteBuffer.wrap(h).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(92, 512)
    assert(MrcFormat.parseHeader(h).dataOffset == 1024L + 512)
  }

  test("export -> open roundtrip per mode: geometry, dtype, every voxel") {
    for (dt <- Seq(Meta.TUInt8, Meta.TUInt16, Meta.TFloat32)) {
      val path = SparkSuite.tempDir(s"graft-mrc-${dt.name}") + "/v.mrc"
      val buf = VoxelBuffer.sequenced(dt, 6, 5, 4, 1, (1, 1, 1))
      Mrc.write(spark, path, buf)
      val vol = Mrc.open(spark, path)
      assert(vol.meta.dataType == dt, s"dtype derived wrong for ${dt.name}")
      assert(vol.meta.scale(1).size == ((6, 5, 4)))
      assert(vol.meta.scale(1).chunkSize == ((6, 5, 1)), "a chunk must be one z-plane")
      assert(vol.cutout(Box(1, 6, 1, 5, 1, 4)) == buf, s"roundtrip bytes differ for ${dt.name}")
    }
  }

  test("a k-plane cutout costs exactly k ranged GETs, never the file") {
    val path = SparkSuite.tempDir("graft-mrc-range") + "/v.mrc"
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 16, 10, 8, 1, (1, 1, 1))
    Mrc.write(spark, path, buf)
    val vol = Mrc.open(spark, path)
    val q = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int)]()
    graft.volume.ChunkStore.rangeTrace.set(q)
    val cut = try vol.cutout(Box(3, 10, 2, 7, 3, 5)) // planes z=3..5
      finally graft.volume.ChunkStore.rangeTrace.set(null)
    assert(cut.getLong(0, 0, 0, 0) == buf.getLong(2, 1, 2, 0))
    val mine = q.asScala.toSeq.filter(_._1.endsWith("v.mrc"))
    val planeBytes = 16 * 10 * 2
    // exactly the three touched planes, each one full-plane range at its
    // computed offset — partial XY coverage clips AFTER the fetch
    assert(mine.size == 3, s"ranged GETs: $mine")
    assert(mine.map(_._3).forall(_ == planeBytes), mine)
    assert(mine.map(_._2).sorted ==
      Seq(2, 3, 4).map(p => 1024L + p.toLong * planeBytes), mine)
  }

  test("distributed voxel view equals the buffer's rows") {
    val path = SparkSuite.tempDir("graft-mrc-vox") + "/v.mrc"
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 8, 6, 4, 1, (1, 1, 1))
    Mrc.write(spark, path, buf)
    val rows = Mrc.open(spark, path).toVoxels(Box(1, 8, 1, 6, 1, 4)).collect()
    assert(rows.length == 8 * 6 * 4)
    rows.foreach { r =>
      val (x, y, z) = (r.getInt(0), r.getInt(1), r.getInt(2))
      assert(r.getShort(4).toLong == buf.getLong(x - 1, y - 1, z - 1, 0), s"($x,$y,$z)")
    }
  }

  test("loud failures: big-endian stamp, bad magic, signed mode, chunk writes") {
    val h = MrcFormat.header(4, 4, 2, Meta.TUInt8)
    val be = h.clone(); be(212) = 0x11
    assert(intercept[IllegalArgumentException](MrcFormat.parseHeader(be))
      .getMessage.contains("big-endian"))
    val bad = h.clone(); bad(208) = 'X'
    assert(intercept[IllegalArgumentException](MrcFormat.parseHeader(bad))
      .getMessage.contains("magic"))
    val m1 = h.clone()
    java.nio.ByteBuffer.wrap(m1).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(12, 1)
    assert(intercept[IllegalArgumentException](MrcFormat.parseHeader(m1))
      .getMessage.contains("mode 1"))
    val path = SparkSuite.tempDir("graft-mrc-ro") + "/v.mrc"
    Mrc.write(spark, path, VoxelBuffer.sequenced(Meta.TUInt8, 4, 4, 2, 1, (1, 1, 1)))
    val vol = Mrc.open(spark, path)
    assert(intercept[IllegalArgumentException](
      vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 4, 4, 2, 1, (1, 1, 1))))
      .getMessage.contains("read-only"))
  }

  test("fromVoxels on an mrc handle fails on the driver, before any job") {
    import org.apache.spark.sql.functions._
    val path = SparkSuite.tempDir("graft-mrc-fv") + "/v.mrc"
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 4, 4, 2, 1, (1, 1, 1))
    Mrc.write(spark, path, buf)
    val vol = Mrc.open(spark, path)
    val df = spark.range(4).select((col("id") + 1).cast("int").as("x"), lit(1).as("y"),
      lit(1).as("z"), lit(9).cast("short").as("value"))
    var e: IllegalArgumentException = null
    assert(graft.testutil.PlanProbe.jobsAndQueries(spark) {
      e = intercept[IllegalArgumentException](vol.fromVoxels(df))
    } == ((0, 0)))
    assert(e.getMessage.contains("read-only"))
    assert(Mrc.open(spark, path).cutout(Box(1, 4, 1, 4, 1, 2)) == buf)
  }

  test("mrc -> precomputed conversion feeds a writable chunked store") {
    import graft.ops.VolumeOps
    val src = SparkSuite.tempDir("graft-mrc-conv") + "/v.mrc"
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    Mrc.write(spark, src, buf)
    val dst = SparkSuite.tempDir("graft-mrc-conv-pre")
    val box = Box(1, 16, 1, 8, 1, 4)
    VolumeOps.rechunk(Mrc.open(spark, src), box, dst, chunkSize = (8, 4, 2),
      encoding = Some("gzip"))
    assert(graft.volume.Volume.open(spark, dst).cutout(box) == buf)
  }
}
