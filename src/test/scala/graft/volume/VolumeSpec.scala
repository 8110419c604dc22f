package graft.volume

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.SparkSuite

/** End-to-end roundtrip oracle tests, porting the reference's own test
  * scenarios (reference: test/BinDicts.jl) onto the Spark-native engine. */
class VolumeSpec extends AnyFunSuite {

  lazy val spark = SparkSuite.spark

  // Fixture A from the reference's unit tests (test/BinDicts.jl:13-18):
  // two mips, negative offsets, uint8 image, gzip.
  def fixtureMeta(encoding: String = "gzip", dataType: Meta.VoxelType = Meta.TUInt8,
                  numChannels: Int = 1): Meta.VolumeMeta =
    Meta.VolumeMeta(
      layerType = "image", dataType = dataType, numChannels = numChannels,
      scales = Vector(
        Meta.ScaleMeta("6_6_30", (100, 100, 5), encoding, (6, 6, 30), (510, 510, 2022), (-300, -300, -10)),
        Meta.ScaleMeta("12_12_30", (100, 100, 5), encoding, (12, 12, 30), (12286, 11262, 2046), (-597, -597, -103))))

  def newVolume(encoding: String = "gzip", dataType: Meta.VoxelType = Meta.TUInt8,
                numChannels: Int = 1, mip: Int = 1): Volume =
    Volume.create(spark, SparkSuite.tempDir("graft-vol"), fixtureMeta(encoding, dataType, numChannels), mip)

  test("aligned roundtrip: 200x200x10 over 100x100x5 chunks (test/BinDicts.jl:51-57)") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    vol.ingest(buf)
    val out = vol.cutout(Box(1, 200, 1, 200, 1, 10))
    assert(out == buf)
    // sub-box cutout
    val sub = vol.cutout(Box(57, 123, 90, 110, 3, 8))
    assert(sub == buf.slice(Box(57, 123, 90, 110, 3, 8)))
  }

  test("negative coordinate roundtrip (test/BinDicts.jl:59-65)") {
    val vol = newVolume()
    // write starting at the volume origin (-299,-299,-9): aligned by definition
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 20, 1, (-299, -299, -9))
    vol.ingest(buf)
    val out = vol.cutout(buf.box)
    assert(out == buf)
  }

  test("reopen from store: info JSON roundtrips through open()") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1))
    vol.ingest(buf)
    val vol2 = Volume.open(spark, vol.root)
    assert(vol2.meta == vol.meta)
    assert(vol2.cutout(buf.box) == buf)
  }

  test("volume boundary clip: write crossing the boundary persists only the in-volume part (test/BinDicts.jl:76-85)") {
    val vol = newVolume()
    // volume x/y stop at 210, z at 2012. Write [101:300, 101:300, 2008:2017]... z-aligned start:
    // grid offset along z = mod(-10,5)=0, so z start 2011 is aligned (2011-1 ≡ 0 mod 5).
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (101, 101, 2006))
    vol.ingest(buf)
    val out = vol.cutout(Box(101, 300, 101, 300, 2006, 2015))
    // expected: clip region [101..210]x[101..210]x[2006..2012] equals source, rest zeros
    val clip = Box(101, 210, 101, 210, 2006, 2012)
    for (x <- Seq(101, 150, 210, 211, 300); y <- Seq(101, 210, 250); z <- Seq(2006, 2012, 2013, 2015)) {
      val inVol = clip.x.contains(x) && clip.y.contains(y) && clip.z.contains(z)
      val got = out.getLong(x - 101, y - 101, z - 2006)
      val want = if (inVol) buf.getLong(x - 101, y - 101, z - 2006) else 0L
      assert(got == want, s"($x,$y,$z) in=$inVol")
    }
  }

  test("non-aligned write start is rejected (multithreads.jl:45-47)") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 50, 50, 5, 1, (3, 1, 1))
    assertThrows[IllegalArgumentException](vol.ingest(buf))
  }

  test("codec matrix: zstd and identity roundtrip (test/BinDicts.jl:99-120)") {
    for (enc <- Seq("zstd", "identity", "raw")) {
      val vol = newVolume(encoding = enc)
      val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
      vol.ingest(buf)
      assert(vol.cutout(buf.box) == buf, s"encoding=$enc")
    }
  }

  test("non-zero-offset mip 2 roundtrip incl. negative coords (test/BinDicts.jl:134-150)") {
    val vol = newVolume(mip = 2)
    // offset (-597,-597,-103): grid offsets (3, 3, 2)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (204, 204, 103))
    vol.ingest(buf)
    assert(vol.cutout(buf.box) == buf)
    val buf2 = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (-96, -296, -2))
    vol.ingest(buf2)
    assert(vol.cutout(buf2.box) == buf2)
  }

  test("dtype matrix roundtrip: uint16/uint32/uint64/float32/float64 (test/S3Dicts.jl:13-71 scenarios)") {
    for (t <- Seq(Meta.TUInt16, Meta.TUInt32, Meta.TUInt64, Meta.TFloat32, Meta.TFloat64)) {
      val vol = newVolume(dataType = t)
      val buf = VoxelBuffer.sequenced(t, 128, 128, 10, 1, (1, 1, 1))
      vol.ingest(buf)
      assert(vol.cutout(buf.box) == buf, s"dtype=${t.name}")
    }
  }

  test("4-d channels roundtrip: float32 (x,y,z,3) affinity-map scenario (test/S3Dicts.jl:47-58)") {
    val vol = newVolume(dataType = Meta.TFloat32, numChannels = 3)
    val buf = VoxelBuffer.sequenced(Meta.TFloat32, 100, 100, 10, 3, (1, 1, 1))
    vol.ingest(buf)
    assert(vol.cutout(buf.box) == buf)
  }

  test("missing chunks read as zeros when fillMissing (sequential.jl:52-54); error otherwise") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1))
    vol.ingest(buf) // writes exactly one chunk
    val out = vol.cutout(Box(1, 200, 1, 100, 1, 5)) // second chunk missing
    assert(out.slice(Box(1, 100, 1, 100, 1, 5)) == buf)
    for (x <- 100 until 200; y <- Seq(0, 50); z <- Seq(0, 4))
      assert(out.getLong(x, y, z) == 0L)

    val strict = new Volume(spark, vol.root, vol.meta, 1, fillMissing = false)
    val e = intercept[org.apache.spark.SparkException](strict.cutout(Box(1, 200, 1, 100, 1, 5)))
    assert(e.getMessage.contains("no such chunk key") ||
      Option(e.getCause).exists(_.getMessage.contains("no such chunk key")))
  }

  /** Spark jobs started and SQL executions finished while `thunk` runs. */
  def jobsAndQueries(thunk: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftshim.shim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val queries = graft.testutil.PlanProbe.executedPlans(spark)(thunk)
      (jobs.get(), queries.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The cutout of `b` a store holding exactly `model` must return. */
  def expectedCutout(model: VoxelBuffer, b: Box): VoxelBuffer = {
    val e = VoxelBuffer.zeros(model.dataType, b.x.len, b.y.len, b.z.len, model.nc,
      (b.x.lo, b.y.lo, b.z.lo))
    val in = b.intersect(model.box)
    if (!in.isEmpty) e.blit(model, in)
    e
  }

  test("a handle ships its store conf once; a cutout is one plain Spark job") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    val before = ChunkStore.confDeserialized.get()
    vol.ingest(buf)
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 20) {
      val (x0, y0, z0) = (1 + rng.nextInt(160), 1 + rng.nextInt(160), 1 + rng.nextInt(6))
      val b = Box(x0, x0 + rng.nextInt(40), y0, y0 + rng.nextInt(40), z0, z0 + rng.nextInt(4))
      assert(vol.cutout(b) == buf.slice(b), b)
    }
    assert(vol.toVoxels(Box(1, 200, 1, 200, 1, 10)).count() == 200L * 200 * 10)
    // local-mode executors read the broadcast from the driver's block
    // manager: no chunk task deserializes a conf of its own
    assert(ChunkStore.confDeserialized.get() == before)
    val b = Box(57, 123, 90, 110, 3, 8)
    var got: VoxelBuffer = null
    assert(jobsAndQueries { got = vol.cutout(b) } == ((1, 0)))
    assert(got == buf.slice(b))
  }

  test("cutout partitioning edge cases equal a sequenced model byte for byte") {
    // a 12x3x3 chunk grid: boxes touch 1, 7, 11, 27 and all 108 chunks,
    // spread unevenly over 2 x defaultParallelism partitions
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (8, 16, 8), "gzip", (1, 1, 1), (96, 48, 24), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-cut-edges"), meta)
    val model = VoxelBuffer.sequenced(Meta.TUInt16, 96, 48, 24, 1, (1, 1, 1))
    vol.ingest(model)
    for ((b, n) <- Seq(
        Box(3, 6, 20, 30, 10, 15) -> 1,
        Box(5, 52, 18, 30, 9, 16) -> 7,
        Box(3, 85, 33, 48, 17, 20) -> 11,
        Box(7, 20, 10, 40, 2, 23) -> 27,
        Box(-5, 101, -3, 52, 0, 27) -> 108)) { // straddles both edges on every axis
      assert(vol.numChunks(b.intersect(model.box)) == n, b)
      assert(vol.cutout(b) == expectedCutout(model, b), b)
    }
    // wholly outside the volume: zeros, without launching a job
    val outside = Box(97, 120, -10, 0, 1, 10)
    var got: VoxelBuffer = null
    assert(jobsAndQueries { got = vol.cutout(outside) } == ((0, 0)))
    assert(got == expectedCutout(model, outside))

    // zarr stores edge chunks full-size: the padding past the array edge
    // never reaches a cutout
    val zarr = graft.sources.Zarr.create(spark, SparkSuite.tempDir("graft-cut-zarr"),
      shape = (20, 12, 6), chunks = (8, 4, 2), dataType = Meta.TUInt16, encoding = "zlib")
    val written = VoxelBuffer.sequenced(Meta.TUInt16, 24, 12, 6, 1, (1, 1, 1))
    zarr.ingest(written)
    val zmodel = written.slice(Box(1, 20, 1, 12, 1, 6))
    for (b <- Seq(Box(17, 20, 1, 12, 1, 6), Box(15, 22, 2, 11, 2, 5), Box(-2, 25, 0, 14, 0, 8)))
      assert(zarr.cutout(b) == expectedCutout(zmodel, b), b)
  }

  test("missingChunks lists expected-minus-stored keys (type.jl:299-328)") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1))
    vol.ingest(buf)
    val before = graft.volume.ChunkStore.listCalls.get()
    val missing = vol.missingChunks(Box(1, 200, 1, 100, 1, 5)).collect().toSet
    assert(missing == Set("100-200_0-100_0-5"))
    assert(vol.missingChunks(Box(1, 100, 1, 100, 1, 5)).count() == 0)
    // the probe is distributed: nothing may list the store on the driver
    assert(graft.volume.ChunkStore.listCalls.get() == before)
  }

  test("numChunks counts grid cells in the id bounding box (type.jl:285-292)") {
    val vol = newVolume()
    assert(vol.numChunks(Box(1, 200, 1, 200, 1, 10)) == 8)
    assert(vol.numChunks(Box(1, 1, 1, 1, 1, 1)) == 1)
    assert(vol.numChunks(Box(57, 123, 90, 110, 3, 8)) == 2 * 2 * 2)
  }

  test("toVoxels exposes the relational view with exact values and zero fill") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1))
    vol.ingest(buf)
    val df = vol.toVoxels(Box(1, 100, 1, 100, 1, 5))
    assert(df.count() == 100L * 100 * 5)
    val row = df.filter("x = 17 and y = 23 and z = 3").collect().head
    assert(row.getShort(4) == buf.getLong(16, 22, 2).toShort)
    // box extending past stored chunk: zero-filled rows (missing chunk)
    val df2 = vol.toVoxels(Box(1, 200, 1, 100, 1, 5))
    assert(df2.count() == 200L * 100 * 5)
    assert(df2.filter("x > 100").agg(org.apache.spark.sql.functions.sum("value")).collect().head.getLong(0) == 0L)
  }

  test("fromVoxels distributed ingest roundtrips through cutout") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    // voxel DF from the buffer
    import scala.jdk.CollectionConverters._
    val rows = (for {
      z <- 0 until 10; y <- 0 until 200; x <- 0 until 200
    } yield org.apache.spark.sql.Row(x + 1, y + 1, z + 1, 0, buf.getLong(x, y, z).toShort)).asJava
    val df = spark.createDataFrame(rows, vol.voxelSchema)
    val nChunks = vol.fromVoxels(df)
    assert(nChunks == 8)
    assert(vol.cutout(buf.box) == buf)
  }

  test("fromVoxels float64 exact roundtrip") {
    val vol = newVolume(dataType = Meta.TFloat64)
    val buf = VoxelBuffer.sequenced(Meta.TFloat64, 100, 100, 5, 1, (1, 1, 1))
    import scala.jdk.CollectionConverters._
    val rows = (for {
      z <- 0 until 5; y <- 0 until 100; x <- 0 until 100
    } yield org.apache.spark.sql.Row(x + 1, y + 1, z + 1, 0, buf.getDouble(x, y, z))).asJava
    val df = spark.createDataFrame(rows, vol.voxelSchema)
    vol.fromVoxels(df)
    assert(vol.cutout(buf.box) == buf)
  }

  test("chunk keys on disk match the reference byte-layout naming") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1))
    vol.ingest(buf)
    val f = new java.io.File(vol.root, "6_6_30/0-100_0-100_0-5")
    assert(f.exists, s"expected chunk object at ${f.getPath}")
    // stored bytes decode to the column-major little-endian buffer
    val blob = java.nio.file.Files.readAllBytes(f.toPath)
    val decoded = graft.core.Codec.GzipCodec.decode(blob)
    assert(decoded.sameElements(buf.bytes))
  }

  test("corrupt blob surfaces a clear task error, not silent garbage") {
    val vol = newVolume()
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1))
    vol.ingest(buf)
    // truncate the stored object: gzip decode (or buffer shape check) must fail loudly
    val f = new java.io.File(vol.root, "6_6_30/0-100_0-100_0-5")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2))
    val e = intercept[org.apache.spark.SparkException](vol.cutout(Box(1, 100, 1, 100, 1, 5)))
    assert(e.getMessage != null)
  }

  test("non-gzip bytes pass through decode and fail the shape check (magic sniff)") {
    val vol = newVolume()
    val f = new java.io.File(vol.root, "6_6_30")
    f.mkdirs()
    java.nio.file.Files.write(new java.io.File(f, "0-100_0-100_0-5").toPath,
      Array[Byte](1, 2, 3, 4))
    val e = intercept[org.apache.spark.SparkException](vol.cutout(Box(1, 100, 1, 100, 1, 5)))
    assert(e.getMessage.contains("buffer bytes") ||
      Option(e.getCause).exists(_.getMessage.contains("buffer bytes")), e.getMessage)
  }

  test("jpeg-encoded store reads through the volume path (decode-only codec)") {
    // hand-build a jpeg chunk: 8x6x4 uint8 block as one tall 8x24 grayscale image
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (8, 6, 4), "jpeg", (1, 1, 1), (8, 6, 4), (0, 0, 0))))
    val root = graft.testutil.SparkSuite.tempDir("graft-jpeg")
    val vol = Volume.create(spark, root, meta)
    val (w, h) = (8, 6 * 4)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, (x * 16 + y * 4) % 256)
    val dir = new java.io.File(root, "1_1_1"); dir.mkdirs()
    javax.imageio.ImageIO.write(img, "jpeg", new java.io.File(dir, "0-8_0-6_0-4"))
    val out = vol.cutout(Box(1, 8, 1, 6, 1, 4))
    // lossy: verify approximate recovery at a few sample voxels
    for ((x, y, z) <- Seq((0, 0, 0), (3, 2, 1), (7, 5, 3))) {
      val want = (x * 16 + (z * 6 + y) * 4) % 256
      assert(math.abs(out.getLong(x, y, z) - want) < 40, s"($x,$y,$z): got ${out.getLong(x, y, z)} want ~$want")
    }
    // writes to a jpeg volume are rejected (decode-only)
    assertThrows[org.apache.spark.SparkException](
      vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 8, 6, 4, 1, (1, 1, 1))))
  }

  test("zipVoxels equals the voxel-grain join; mismatched grids are rejected") {
    import org.apache.spark.sql.functions.col
    def mk(name: String, dt: Meta.VoxelType, enc: String): Volume = {
      val meta = Meta.VolumeMeta(name, dt, 1, Vector(
        Meta.ScaleMeta("1_1_1", (32, 32, 4), enc, (1, 1, 1), (64, 64, 8), (0, 0, 0))))
      Volume.create(spark, graft.testutil.SparkSuite.tempDir(s"graft-zip-$name"), meta)
    }
    val img = mk("image", Meta.TUInt8, "raw")
    val seg = mk("segmentation", Meta.TUInt16, "gzip")
    img.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 8, 1, (1, 1, 1)))
    seg.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 64, 64, 8, 1, (1, 1, 1)))
    val box = Box(3, 40, 5, 34, 1, 8) // non-aligned: crosses chunk borders
    val zipped = img.zipVoxels(seg, box)
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
        (r.getShort(3).toLong, r.getInt(4).toLong))).toMap
    val joined = img.toVoxels(box).select(col("x"), col("y"), col("z"), col("value").as("va"))
      .join(seg.toVoxels(box).select(col("x"), col("y"), col("z"), col("value").as("vb")),
        Seq("x", "y", "z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
        (r.getShort(3).toLong, r.getInt(4).toLong))).toMap
    assert(zipped == joined)
    assert(zipped.size == 38 * 30 * 8)
    // a volume on a different chunk grid must be rejected loudly
    val other = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-zip-bad"),
      Meta.VolumeMeta("segmentation", Meta.TUInt16, 1, Vector(
        Meta.ScaleMeta("1_1_1", (16, 16, 4), "raw", (1, 1, 1), (64, 64, 8), (0, 0, 0)))))
    assertThrows[IllegalArgumentException](img.zipVoxels(other, box))
  }

  test("distributed CC (localComponents + merge) equals driver-side BFS on a random mask") {
    // deterministic pseudo-random mask at ~35% density over a 40x40x8 volume
    // on a 16x16x4 grid: plenty of components straddle the x=16|17, x=32|33,
    // y seams and the z=4|5 seam, so the cross-chunk merge path is exercised
    // hard, not just on hand-drawn shapes
    val (w, h, d) = (40, 40, 8)
    val meta = Meta.VolumeMeta("segmentation", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))
    val vol = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-cc"), meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt8, w, h, d, 1, (1, 1, 1))
    def fg(x: Int, y: Int, z: Int): Boolean =
      (scala.util.hashing.MurmurHash3.productHash((x, y, z, 16)) & 0xffff) < 23000
    for (z <- 1 to d; y <- 1 to h; x <- 1 to w)
      if (fg(x, y, z)) buf.setLong(x - 1, y - 1, z - 1, 0, 1L)
    vol.ingest(buf)
    val got = graft.ops.ArrayOps.componentStats(vol.localComponents(Box(1, w, 1, h, 1, d)))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))).toMap
    // ground truth: flood fill on the driver over the same mask
    def lin(x: Int, y: Int, z: Int): Long = (z.toLong << 40) | (y.toLong << 20) | x.toLong
    val seen = scala.collection.mutable.Set.empty[(Int, Int, Int)]
    val want = scala.collection.mutable.Map.empty[Long, (Long, Int, Int, Int, Int, Int, Int)]
    for (z0 <- 1 to d; y0 <- 1 to h; x0 <- 1 to w)
      if (fg(x0, y0, z0) && !seen((x0, y0, z0))) {
        val queue = scala.collection.mutable.Queue((x0, y0, z0))
        val comp = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
        seen += ((x0, y0, z0))
        while (queue.nonEmpty) {
          val (x, y, z) = queue.dequeue()
          comp += ((x, y, z))
          for ((nx, ny, nz) <- Seq((x + 1, y, z), (x - 1, y, z), (x, y + 1, z),
            (x, y - 1, z), (x, y, z + 1), (x, y, z - 1)))
            if (nx >= 1 && nx <= w && ny >= 1 && ny <= h && nz >= 1 && nz <= d &&
              fg(nx, ny, nz) && !seen((nx, ny, nz))) {
              seen += ((nx, ny, nz)); queue += ((nx, ny, nz))
            }
        }
        val id = comp.map { case (x, y, z) => lin(x, y, z) }.min
        want(id) = (comp.size.toLong,
          comp.map(_._1).min, comp.map(_._1).max,
          comp.map(_._2).min, comp.map(_._2).max,
          comp.map(_._3).min, comp.map(_._3).max)
      }
    assert(want.nonEmpty && want.exists(_._2._1 > 50), "mask degenerate: no sizable component")
    assert(got == want.toMap)
    // guards: multi-channel and out-of-range coords are rejected loudly
    assertThrows[IllegalArgumentException](
      vol.localComponents(Box(1, 1 << 21, 1, h, 1, d)))
  }

  test("distributed dilation (localDilate + halo) equals driver-side brute force on a random mask") {
    // same adversarial setup as the CC spec: dense pseudo-random mask over a
    // multi-seam grid so spills cross every seam direction, including
    // corner coords spilled by several source chunks at once
    val (w, h, d) = (40, 40, 8)
    val meta = Meta.VolumeMeta("segmentation", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))
    val vol = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-dil"), meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt8, w, h, d, 1, (1, 1, 1))
    def fg(x: Int, y: Int, z: Int): Boolean =
      (scala.util.hashing.MurmurHash3.productHash((x, y, z, 17)) & 0xffff) < 9000
    for (z <- 1 to d; y <- 1 to h; x <- 1 to w)
      if (fg(x, y, z)) buf.setLong(x - 1, y - 1, z - 1, 0, 1L)
    vol.ingest(buf)
    val got = graft.ops.ArrayOps.dilateStats(vol.localDilate(Box(1, w, 1, h, 1, d)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    // ground truth: per-chunk counts of fg and of the 7-shift dilated set
    def cid(v: Int, cs: Int): Long = (v - 1) / cs + 1L
    val fgSet = (for (z <- 1 to d; y <- 1 to h; x <- 1 to w if fg(x, y, z)) yield (x, y, z)).toSet
    val dilSet = fgSet.flatMap { case (x, y, z) =>
      Seq((x, y, z), (x + 1, y, z), (x - 1, y, z), (x, y + 1, z), (x, y - 1, z),
        (x, y, z + 1), (x, y, z - 1))
    }.filter { case (x, y, z) => x >= 1 && x <= w && y >= 1 && y <= h && z >= 1 && z <= d }
    def perChunk(s: Set[(Int, Int, Int)]): Map[(Long, Long, Long), Long] =
      s.groupBy { case (x, y, z) => (cid(x, 16), cid(y, 16), cid(z, 4)) }
        .map { case (k, v) => k -> v.size.toLong }
    val wantFg = perChunk(fgSet); val wantDil = perChunk(dilSet)
    val want = (wantFg.keySet ++ wantDil.keySet).map(k =>
      k -> (wantFg.getOrElse(k, 0L), wantDil.getOrElse(k, 0L))).toMap
    assert(dilSet.size > fgSet.size, "mask degenerate: dilation grew nothing")
    assert(got == want)
  }

  test("distributed erosion (localErode + halo confirm) equals driver-side brute force") {
    // DENSE pseudo-random mask (~86%) so erosion survivors exist in every
    // chunk and seam-crossing confirmations fire in all six directions
    val (w, h, d) = (40, 40, 8)
    val meta = Meta.VolumeMeta("segmentation", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))
    val vol = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-ero"), meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt8, w, h, d, 1, (1, 1, 1))
    def fg(x: Int, y: Int, z: Int): Boolean =
      (scala.util.hashing.MurmurHash3.productHash((x, y, z, 18)) & 0xffff) < 56000
    for (z <- 1 to d; y <- 1 to h; x <- 1 to w)
      if (fg(x, y, z)) buf.setLong(x - 1, y - 1, z - 1, 0, 1L)
    vol.ingest(buf)
    val got = graft.ops.ArrayOps.erodeStats(vol.localErode(Box(1, w, 1, h, 1, d)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    def cid(v: Int, cs: Int): Long = (v - 1) / cs + 1L
    def inBox(x: Int, y: Int, z: Int) = x >= 1 && x <= w && y >= 1 && y <= h && z >= 1 && z <= d
    val fgSet = (for (z <- 1 to d; y <- 1 to h; x <- 1 to w if fg(x, y, z)) yield (x, y, z)).toSet
    val eroSet = fgSet.filter { case (x, y, z) =>
      Seq((x + 1, y, z), (x - 1, y, z), (x, y + 1, z), (x, y - 1, z), (x, y, z + 1), (x, y, z - 1))
        .forall { case (nx, ny, nz) => inBox(nx, ny, nz) && fgSet((nx, ny, nz)) }
    }
    def perChunk(s: Set[(Int, Int, Int)]): Map[(Long, Long, Long), Long] =
      s.groupBy { case (x, y, z) => (cid(x, 16), cid(y, 16), cid(z, 4)) }
        .map { case (k, v) => k -> v.size.toLong }
    val wantFg = perChunk(fgSet); val wantEr = perChunk(eroSet)
    val want = wantFg.map { case (k, n) => k -> (n, wantEr.getOrElse(k, 0L)) }
    assert(eroSet.nonEmpty && eroSet.size < fgSet.size, "mask degenerate for erosion")
    assert(got == want)
  }

  test("distributed opening (localOpen + halo) equals driver-side brute force") {
    // dense pseudo-random mask (~86%) so eroded seeds survive everywhere,
    // seam candidates confirm in all six directions, AND confirmed face
    // voxels dilate across seams (the stage the fused kernel adds over
    // erode/dilate run separately)
    val (w, h, d) = (40, 40, 8)
    val meta = Meta.VolumeMeta("segmentation", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))
    val vol = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-opn"), meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt8, w, h, d, 1, (1, 1, 1))
    def fg(x: Int, y: Int, z: Int): Boolean =
      (scala.util.hashing.MurmurHash3.productHash((x, y, z, 18)) & 0xffff) < 56000
    for (z <- 1 to d; y <- 1 to h; x <- 1 to w)
      if (fg(x, y, z)) buf.setLong(x - 1, y - 1, z - 1, 0, 1L)
    vol.ingest(buf)
    val got = graft.ops.ArrayOps.openStats(vol.localOpen(Box(1, w, 1, h, 1, d)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    def cid(v: Int, cs: Int): Long = (v - 1) / cs + 1L
    def inBox(x: Int, y: Int, z: Int) = x >= 1 && x <= w && y >= 1 && y <= h && z >= 1 && z <= d
    val fgSet = (for (z <- 1 to d; y <- 1 to h; x <- 1 to w if fg(x, y, z)) yield (x, y, z)).toSet
    val eroSet = fgSet.filter { case (x, y, z) =>
      Seq((x + 1, y, z), (x - 1, y, z), (x, y + 1, z), (x, y - 1, z), (x, y, z + 1), (x, y, z - 1))
        .forall { case (nx, ny, nz) => inBox(nx, ny, nz) && fgSet((nx, ny, nz)) }
    }
    val openSet = eroSet.flatMap { case (x, y, z) =>
      Seq((x, y, z), (x + 1, y, z), (x - 1, y, z), (x, y + 1, z), (x, y - 1, z),
        (x, y, z + 1), (x, y, z - 1))
    }
    def perChunk(s: Set[(Int, Int, Int)]): Map[(Long, Long, Long), Long] =
      s.groupBy { case (x, y, z) => (cid(x, 16), cid(y, 16), cid(z, 4)) }
        .map { case (k, v) => k -> v.size.toLong }
    val wantFg = perChunk(fgSet); val wantOp = perChunk(openSet)
    val want = (wantFg.keySet ++ wantOp.keySet).map(k =>
      k -> (wantFg.getOrElse(k, 0L), wantOp.getOrElse(k, 0L))).toMap
    assert(eroSet.nonEmpty && openSet.size < fgSet.size && openSet.size > eroSet.size,
      "mask degenerate for opening")
    // a confirmed SEAM-face eroded voxel must exist (the across-seam
    // dilation stage is exercised, not vacuously correct)
    assert(eroSet.exists { case (x, y, z) =>
      x % 16 == 0 || x % 16 == 1 || y % 16 == 0 || y % 16 == 1 || z % 4 == 0 || z % 4 == 1
    }, "no seam-face eroded voxels — halo stage unexercised")
    assert(got == want)
  }

  test("distributed contact area (localContacts + seam join) equals driver-side brute force") {
    // dense pseudo-random multi-label mask over a multi-seam grid so
    // cross-label contacts cross every seam direction
    val (w, h, d) = (40, 40, 8)
    val meta = Meta.VolumeMeta("segmentation", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))
    val vol = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-cta"), meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt8, w, h, d, 1, (1, 1, 1))
    def lab(x: Int, y: Int, z: Int): Long = {
      val hsh = scala.util.hashing.MurmurHash3.productHash((x, y, z, 19)) & 0xffff
      if (hsh < 30000) 1L + hsh % 4 else 0L
    }
    for (z <- 1 to d; y <- 1 to h; x <- 1 to w)
      if (lab(x, y, z) != 0L) buf.setLong(x - 1, y - 1, z - 1, 0, lab(x, y, z))
    vol.ingest(buf)
    val got = graft.ops.ArrayOps.contactStats(vol.localContacts(Box(1, w, 1, h, 1, d)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ground truth: positive-shift scan over the full mask
    val want = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    for (z <- 1 to d; y <- 1 to h; x <- 1 to w; v = lab(x, y, z) if v != 0L;
         (nx, ny, nz) <- Seq((x + 1, y, z), (x, y + 1, z), (x, y, z + 1))
         if nx <= w && ny <= h && nz <= d) {
      val n = lab(nx, ny, nz)
      if (n != 0L && n != v) {
        val k = (math.min(v, n), math.max(v, n))
        want.update(k, want.getOrElse(k, 0L) + 1L)
      }
    }
    assert(want.size >= 6, "mask degenerate: too few label pairs")
    assert(got == want.toMap)
    // guard: float volumes are rejected loudly
    val fmeta = Meta.VolumeMeta("image", Meta.TFloat32, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))
    val fvol = Volume.create(spark, graft.testutil.SparkSuite.tempDir("graft-cta-f"), fmeta)
    assertThrows[IllegalArgumentException](fvol.localContacts(Box(1, w, 1, h, 1, d)))
  }
}
