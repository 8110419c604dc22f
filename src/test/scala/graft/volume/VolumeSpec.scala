package graft.volume

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.{PlanProbe, SparkSuite}

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
    val e = intercept[ChunkStore.MissingChunkException](strict.cutout(Box(1, 200, 1, 100, 1, 5)))
    assert(e.getMessage.contains("no such chunk key"))
  }

  def jobsAndQueries(thunk: => Unit): (Int, Int) = PlanProbe.jobsAndQueries(spark)(thunk)

  /** The cutout of `b` a store holding exactly `model` must return. */
  def expectedCutout(model: VoxelBuffer, b: Box): VoxelBuffer = {
    val e = VoxelBuffer.zeros(model.dataType, b.x.len, b.y.len, b.z.len, model.nc,
      (b.x.lo, b.y.lo, b.z.lo))
    val in = b.intersect(model.box)
    if (!in.isEmpty) e.blit(model, in)
    e
  }

  test("a handle ships its store conf once; a cutout runs no Spark job") {
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
    assert(jobsAndQueries { got = vol.cutout(b) } == ((0, 0)))
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

  test("concurrent cutouts on one handle equal the model; the chunk pool stays under the worker bound") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (8, 16, 8), "gzip", (1, 1, 1), (96, 48, 24), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-cut-conc"), meta)
    val model = VoxelBuffer.sequenced(Meta.TUInt16, 96, 48, 24, 1, (1, 1, 1))
    vol.ingest(model)
    // 4 driver threads, 50 cutouts each, boxes straddling the volume edges
    val callers = java.util.concurrent.Executors.newFixedThreadPool(4)
    val wrong = try {
      (0 until 4).map { t =>
        callers.submit(() => {
          val rng = new scala.util.Random(t)
          (1 to 50).flatMap { _ =>
            val (x0, y0, z0) = (rng.nextInt(100) - 5, rng.nextInt(52) - 5, rng.nextInt(28) - 5)
            val b = Box(x0, x0 + rng.nextInt(40), y0, y0 + rng.nextInt(30), z0, z0 + rng.nextInt(20))
            if (vol.cutout(b) == expectedCutout(model, b)) None else Some(b)
          }
        })
      }.flatMap(_.get())
    } finally callers.shutdown()
    assert(wrong.isEmpty, s"${wrong.size} wrong cutouts, first ${wrong.headOption}")
    // each caller is a worker too, so the shared pool holds fewer threads
    // than one call's bound
    val sc = spark.sparkContext
    assert(Volume.chunkPool(sc).getLargestPoolSize < Volume.workerBound(sc))
    import scala.jdk.CollectionConverters._
    val live = Thread.getAllStackTraces.keySet.asScala.count(_.getName.startsWith("graft-chunk-worker-"))
    assert(live < Volume.workerBound(sc), live)
  }

  /** A buffer at `origin` whose values differ from `sequenced` there, so a
    * write over sequenced data is visible voxel by voxel. */
  def overwrite(t: Meta.VoxelType, sx: Int, sy: Int, sz: Int, origin: (Int, Int, Int)): VoxelBuffer =
    new VoxelBuffer(t, sx, sy, sz, 1, origin, VoxelBuffer.sequenced(t, sx, sy, sz, 1,
      (origin._1 + 1000, origin._2, origin._3)).bytes)

  def storedObjects(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getPath)
    walk(new java.io.File(root)).toSet
  }

  test("an ingest is one plain Spark job; one wholly outside the volume launches none") {
    val vol = newVolume()
    val model = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    vol.ingest(model)
    val before = ChunkStore.confDeserialized.get()
    // 2x2x2 chunks, all but one partly covered: each read, merged and put
    val patch = overwrite(Meta.TUInt8, 150, 130, 7, (1, 1, 1))
    assert(jobsAndQueries { vol.ingest(patch) } == ((1, 0)))
    model.blit(patch, patch.box)
    assert(vol.cutout(model.box) == model)
    // the volume ends at x = 210
    val objects = storedObjects(vol.root)
    val outside = VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (301, 1, 1))
    assert(jobsAndQueries { vol.ingest(outside) } == ((0, 0)))
    assert(storedObjects(vol.root) == objects)
    assert(ChunkStore.confDeserialized.get() == before)
  }

  test("a failed ingest still frees its broadcast buffer") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import org.apache.spark.graftshim.BlockProbe
    val vol = newVolume()
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 100, 100, 5, 1, (1, 1, 1)))
    val f = new java.io.File(vol.root, "6_6_30/0-100_0-100_0-5")
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2))
    // the probe sees a live broadcast of a buffer
    val control = VoxelBuffer.zeros(Meta.TUInt8, 1, 1, 1, 1, (1, 1, 1))
    val controlBc = spark.sparkContext.broadcast(control)
    assert(BlockProbe.broadcastsHolding(control) == Set(controlBc.id))
    controlBc.destroy()
    // a partial write must read-merge the truncated chunk, so its task fails
    val patch = overwrite(Meta.TUInt8, 50, 50, 5, (1, 1, 1))
    intercept[org.apache.spark.SparkException](vol.ingest(patch))
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(BlockProbe.broadcastsHolding(patch).isEmpty)
    }
  }

  test("ingest edge cases equal a sequenced model byte for byte") {
    // the cutout edge-case grid: 12x3x3 chunks of 8x16x8 voxels
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (8, 16, 8), "gzip", (1, 1, 1), (96, 48, 24), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-ingest-edges"), meta)
    val model = VoxelBuffer.zeros(Meta.TUInt16, 96, 48, 24, 1, (1, 1, 1))
    for (b <- Seq(
        // all 108 chunks, spread unevenly over 2 x defaultParallelism partitions
        VoxelBuffer.sequenced(Meta.TUInt16, 96, 48, 24, 1, (1, 1, 1)),
        // inside one chunk: read-merge-write keeps the chunk's other voxels
        overwrite(Meta.TUInt16, 5, 7, 3, (9, 17, 9)),
        // 6 x 2 x 3 = 36 chunks, most of them partly covered
        overwrite(Meta.TUInt16, 43, 20, 19, (17, 1, 1)),
        // straddles the volume's upper edge on every axis: clamped
        overwrite(Meta.TUInt16, 20, 30, 15, (89, 33, 17)))) {
      vol.ingest(b)
      model.blit(b, b.box.intersect(model.box))
      assert(vol.cutout(model.box) == model, b.box)
    }
    // no object past the volume's edge; edge chunks stored clamped
    val keys = new java.io.File(vol.root, "1_1_1").list().toSeq
    assert(keys.size == 108)
    assert(keys.forall(k => Grid.parseKey(k).exists(kb => kb.intersect(model.box) == kb)), keys)

    // zarr stores edge chunks full-size: a clamped write pads them
    val zarr = graft.sources.Zarr.create(spark, SparkSuite.tempDir("graft-ingest-zarr"),
      shape = (20, 12, 6), chunks = (8, 4, 2), dataType = Meta.TUInt16, encoding = "zlib")
    val zmodel = VoxelBuffer.zeros(Meta.TUInt16, 20, 12, 6, 1, (1, 1, 1))
    for (b <- Seq(
        VoxelBuffer.sequenced(Meta.TUInt16, 20, 12, 6, 1, (1, 1, 1)),
        overwrite(Meta.TUInt16, 5, 3, 1, (9, 5, 3)),
        overwrite(Meta.TUInt16, 7, 5, 3, (17, 9, 5)))) { // partly covers padded edge chunks
      zarr.ingest(b)
      zmodel.blit(b, b.box.intersect(zmodel.box))
      assert(zarr.cutout(zmodel.box) == zmodel, b.box)
    }
    val edge = java.nio.file.Files.readAllBytes(new java.io.File(zarr.root, "2.2.2").toPath)
    assert(zarr.ctx.codec.decode(edge).length == 8 * 4 * 2 * 2)
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

  /** `b`'s voxels `(x, y, z)`, x fastest, as a `spark.range` in `parts`
    * partitions. */
  def boxVoxels(b: Box, parts: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (nx, ny) = (b.x.len.toLong, b.y.len.toLong)
    spark.range(0L, b.numVoxels, 1, parts).select(
      (lit(b.x.lo) + col("id") % nx).cast("int").as("x"),
      (lit(b.y.lo) + (col("id") / nx).cast("long") % ny).cast("int").as("y"),
      (lit(b.z.lo) + (col("id") / (nx * ny)).cast("long")).cast("int").as("z"))
  }

  /** Writes the voxel rows `df` with `fromVoxels` and applies the same
    * write to `model` (which `vol` must otherwise match): every chunk a row
    * falls in is rewritten whole, so its voxels absent from `df` read zero.
    * `bits` gives a voxel's raw element bits. Checks the chunk count the
    * call returns and a cutout of `model`'s box, byte for byte. */
  def checkFromVoxels(vol: Volume, model: VoxelBuffer, df: org.apache.spark.sql.DataFrame)(
      bits: (Int, Int, Int, Int) => Long): Unit = {
    import org.apache.spark.sql.functions._
    val c = vol.ctx
    val (csx, csy, csz) = c.chunkSize
    val ch = if (df.columns.contains("c")) col("c") else lit(0)
    val pts = df.select(col("x"), col("y"), col("z"), ch).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val cells = pts.map { case (x, y, z, _) =>
      (Grid.chunkIdOf(x, csx, Grid.gridOffset(c.voxelOffset._1, csx)),
        Grid.chunkIdOf(y, csy, Grid.gridOffset(c.voxelOffset._2, csy)),
        Grid.chunkIdOf(z, csz, Grid.gridOffset(c.voxelOffset._3, csz)))
    }.distinct
    for ((cx, cy, cz) <- cells) {
      val cb = c.sliceAt(cx, cy, cz, c.volumeBox).get.chunkBox.intersect(model.box)
      model.blit(VoxelBuffer.zeros(model.dataType, cb.x.len, cb.y.len, cb.z.len, model.nc,
        (cb.x.lo, cb.y.lo, cb.z.lo)), cb)
    }
    for ((x, y, z, k) <- pts) model.setLong(x - model.origin._1, y - model.origin._2,
      z - model.origin._3, k, bits(x, y, z, k))
    assert(vol.fromVoxels(df) == cells.length)
    assert(vol.cutout(model.box) == model)
  }

  test("fromVoxels is one plain Spark job under one SQL execution; an all-filtered input writes nothing") {
    import org.apache.spark.sql.functions._
    val vol = newVolume()
    val model = VoxelBuffer.zeros(Meta.TUInt8, 200, 100, 5, 1, (1, 1, 1))
    def slab(b: Box) = boxVoxels(b, 4)
      .withColumn("value", pmod(col("x") * 7 + col("y") * 13 + col("z") * 29, lit(251)).cast("short"))
    val bits = (x: Int, y: Int, z: Int, _: Int) => Math.floorMod(x * 7 + y * 13 + z * 29, 251).toLong
    checkFromVoxels(vol, model, slab(Box(1, 100, 1, 100, 1, 5)))(bits)
    val before = ChunkStore.confDeserialized.get()
    var n = -1L
    // two chunks, the second partly covered
    val patch = slab(Box(1, 150, 1, 100, 1, 5))
    assert(jobsAndQueries { n = vol.fromVoxels(patch) } == ((1, 1)))
    assert(n == 2L)
    checkFromVoxels(vol, model, patch)(bits)
    // the volume ends at x = 210: every row is filtered out
    val objects = storedObjects(vol.root)
    assert(jobsAndQueries { n = vol.fromVoxels(slab(Box(301, 340, 1, 40, 1, 5))) } == ((1, 1)))
    assert(n == 0L)
    assert(storedObjects(vol.root) == objects)
    assert(ChunkStore.confDeserialized.get() == before)
  }

  /** The first `IllegalArgumentException` in `e`'s cause chain. */
  def illegalArgument(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i }
      .getOrElse(fail(s"no IllegalArgumentException behind $e"))

  test("fromVoxels rejects a channel or a value the volume cannot hold, naming the voxel") {
    import org.apache.spark.sql.functions._
    def row(ch: Int, value: org.apache.spark.sql.Column) =
      spark.range(1).select(lit(5).as("x"), lit(6).as("y"), lit(2).as("z"), lit(ch).as("c"),
        value.as("value"))
    val two64 = new java.math.BigDecimal("18446744073709551616")
    for ((t, nc, ch, value, shown) <- Seq(
        (Meta.TUInt8, 1, 0, lit(300), "300"),
        (Meta.TUInt8, 1, 0, lit(-1), "-1"),
        (Meta.TUInt16, 1, 0, lit(65536), "65536"),
        (Meta.TUInt32, 1, 0, lit(1L << 32), "4294967296"),
        (Meta.TUInt64, 1, 0, lit(two64), "18446744073709551616"),
        (Meta.TUInt64, 1, 0, lit(-1L), "-1"),
        (Meta.TUInt8, 1, 1, lit(7), "7"),
        (Meta.TFloat32, 3, -1, lit(0.5f), "0.5"),
        (Meta.TUInt16, 2, 2, lit(9), "9"))) {
      val vol = newVolume(dataType = t, numChannels = nc)
      val e = illegalArgument(intercept[Exception](vol.fromVoxels(row(ch, value))))
      val m = e.getMessage
      assert(m.contains(s"(5, 6, 2, $ch)") && m.contains(s"value $shown") && m.contains(t.name), m)
      assert(m.contains(if (ch < 0 || ch >= nc) "channel" else "outside"), m)
      // nothing was written
      assert(vol.cutout(Box(1, 100, 1, 100, 1, 5)) ==
        VoxelBuffer.zeros(t, 100, 100, 5, nc, (1, 1, 1)), m)
    }
    // the top of each range is accepted
    for ((t, top, bits) <- Seq((Meta.TUInt8, lit(255), 255L), (Meta.TUInt16, lit(65535), 65535L),
        (Meta.TUInt32, lit((1L << 32) - 1), (1L << 32) - 1),
        (Meta.TUInt64, lit(two64.subtract(java.math.BigDecimal.ONE)), -1L))) {
      val vol = newVolume(dataType = t)
      assert(vol.fromVoxels(row(0, top)) == 1L)
      assert(vol.cutout(Box(5, 5, 6, 6, 2, 2)).getLong(0, 0, 0) == bits, t)
    }
  }

  test("a partial chunk's size tracks its voxel count") {
    val cell = 64 * 64 * 64
    val dense = 1 + cell + cell / 8 // u8 values and a presence mask
    val pc = new Volume.PartialChunks(Meta.TUInt8, cell)
    for (k <- Seq(1, 10, 1000, 20000, 60000, cell / 2, cell)) {
      // distinct voxels spread over the cell
      val vs = (0 until k).map(i => ((i.toLong * 7919) % cell).toInt -> (i % 251).toLong)
      val p = vs.tail.foldLeft(pc.one(vs.head))(pc.add)
      // sparse: a count and 5 bytes a voxel, capacity at most doubled
      assert(p.length <= math.min(5 + 2L * 5 * k, dense), k)
      val want = new Array[Byte](cell)
      vs.foreach { case (i, v) => want(i) = v.toByte }
      assert(java.util.Arrays.equals(pc.bytes(p), want), k)
    }
  }

  test("fromVoxels edge cases equal a model byte for byte") {
    import org.apache.spark.sql.functions._
    // the cutout edge-case grid: 12x3x3 chunks of 8x16x8 voxels
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (8, 16, 8), "gzip", (1, 1, 1), (96, 48, 24), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-fromvoxels-edges"), meta)
    val model = VoxelBuffer.zeros(Meta.TUInt16, 96, 48, 24, 1, (1, 1, 1))
    def write(k: Int, voxels: org.apache.spark.sql.DataFrame): Unit =
      checkFromVoxels(vol, model, voxels.withColumn("value",
        pmod(col("x") * 7 + col("y") * 13 + col("z") * 29 + lit(101 * k), lit(65521)))) {
        (x, y, z, _) => Math.floorMod(x * 7 + y * 13 + z * 29 + 101 * k, 65521).toLong
      }
    // every chunk gets partials from at least 3 map partitions
    val spread = boxVoxels(model.box, 2).repartition(4)
    val perChunk = spread.withColumn("p", spark_partition_id())
      .groupBy(((col("x") - 1) / 8).cast("long"), ((col("y") - 1) / 16).cast("long"),
        ((col("z") - 1) / 8).cast("long"))
      .agg(countDistinct("p").as("n"))
    assert(perChunk.count() == 108 && perChunk.agg(min("n")).head.getLong(0) >= 3)
    write(1, spread)
    // each of 12 chunks: two dense partials and a sparse one, disjoint, from
    // three single-partition inputs (an RDD union, which no rule collapses)
    val sel = pmod(col("x") * 31 + col("y") * 17 + col("z"), lit(20))
    val base = boxVoxels(Box(1, 24, 1, 32, 1, 16), 1)
    val thirds = spark.createDataFrame(Seq(sel >= 11, sel.between(2, 10), sel < 2)
      .map(base.filter(_).rdd).reduce(_ union _), base.schema)
    assert(thirds.rdd.getNumPartitions == 3)
    write(2, thirds)
    // partly covered chunks: the rest of each touched chunk reads zero
    write(3, boxVoxels(Box(13, 29, 20, 40, 5, 19), 3))
    // scattered: one voxel in each of 72 chunks, over 8 partitions
    write(4, spark.range(0, 72, 1, 8).select(
      (col("id") % 12 * 8 + 3).cast("int").as("x"),
      ((col("id") / 12).cast("long") % 3 * 16 + 5).cast("int").as("y"),
      ((col("id") / 36).cast("long") * 8 + 2).cast("int").as("z")))

    // two channels through a c column, float32 extremes
    val f32 = newVolume(dataType = Meta.TFloat32, numChannels = 2)
    val fmodel = VoxelBuffer.zeros(Meta.TFloat32, 200, 100, 5, 2, (1, 1, 1))
    val floats = Seq(Float.MaxValue, -Float.MaxValue, Float.MinPositiveValue, -0.0f,
      Float.PositiveInfinity, Float.NegativeInfinity, Float.NaN, 1.5f)
    import scala.jdk.CollectionConverters._
    val frows = floats.zipWithIndex.map { case (v, i) =>
      org.apache.spark.sql.Row(1 + 23 * i, 7, 3, i % 2, v) }
    checkFromVoxels(f32, fmodel, spark.createDataFrame(frows.asJava, f32.voxelSchema).repartition(3)) {
      (x, _, _, _) => java.lang.Float.floatToRawIntBits(floats((x - 1) / 23)) & 0xffffffffL
    }
    // uint64 extremes, given as decimal(20, 0)
    val u64 = newVolume(dataType = Meta.TUInt64)
    val umodel = VoxelBuffer.zeros(Meta.TUInt64, 200, 100, 5, 1, (1, 1, 1))
    val longs = Seq(0L, 1L, Long.MaxValue, Long.MinValue, -1L) // as unsigned bits
    val urows = longs.zipWithIndex.map { case (v, i) => org.apache.spark.sql.Row(1 + 37 * i, 9, 4, 0,
      new java.math.BigDecimal(new java.math.BigInteger(java.lang.Long.toUnsignedString(v)))) }
    checkFromVoxels(u64, umodel, spark.createDataFrame(urows.asJava, u64.voxelSchema)) {
      (x, _, _, _) => longs((x - 1) / 37)
    }

    // zarr stores edge chunks full-size: the padding past the array edge is zero
    val zarr = graft.sources.Zarr.create(spark, SparkSuite.tempDir("graft-fromvoxels-zarr"),
      shape = (20, 12, 6), chunks = (8, 4, 2), dataType = Meta.TUInt16, encoding = "zlib")
    val zmodel = VoxelBuffer.zeros(Meta.TUInt16, 20, 12, 6, 1, (1, 1, 1))
    checkFromVoxels(zarr, zmodel, boxVoxels(zmodel.box, 3).withColumn("value", col("x") * 100 + col("y"))) {
      (x, y, _, _) => x * 100L + y
    }
    val edge = zarr.ctx.codec.decode(
      java.nio.file.Files.readAllBytes(new java.io.File(zarr.root, "2.2.2").toPath))
    assert(edge.length == 8 * 4 * 2 * 2)
    val edgeBuf = new VoxelBuffer(Meta.TUInt16, 8, 4, 2, 1, (17, 9, 5), edge)
    assert(edgeBuf.getLong(3, 3, 1) == 2012L && edgeBuf.getLong(4, 0, 0) == 0L)
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
    val e = intercept[java.io.EOFException](vol.cutout(Box(1, 100, 1, 100, 1, 5)))
    assert(e.getMessage != null)
  }

  test("non-gzip bytes pass through decode and fail the shape check (magic sniff)") {
    val vol = newVolume()
    val f = new java.io.File(vol.root, "6_6_30")
    f.mkdirs()
    java.nio.file.Files.write(new java.io.File(f, "0-100_0-100_0-5").toPath,
      Array[Byte](1, 2, 3, 4))
    val e = intercept[IllegalArgumentException](vol.cutout(Box(1, 100, 1, 100, 1, 5)))
    assert(e.getMessage.contains("buffer bytes"), e.getMessage)
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
