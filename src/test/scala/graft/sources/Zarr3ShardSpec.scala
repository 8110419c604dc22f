package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, Meta, Shard}
import graft.core.Grid.Box
import graft.testutil.SparkSuite
import graft.volume.VoxelBuffer

/** Zarr v3 `sharding_indexed` support: a hand-built golden store assembled
  * byte-by-byte from the public spec (inner gzip chunks, uint64-LE offset
  * index, CRC32C, index at end/start), plus engine roundtrips proving the
  * shard is ONE object while reads stay inner-chunk-granular. */
class Zarr3ShardSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  /** Golden: 4x4x2 (x,y,z) uint8 array, one shard of 2x2x1 inner cells of
    * 2x2x2 voxels; cell (wx=1, wy=1) left missing. Assembled manually —
    * no engine code writes a byte. */
  private def buildGolden(indexAtEnd: Boolean): String = {
    val root = SparkSuite.tempDir("graft-z3shard-golden")
    val loc = if (indexAtEnd) "end" else "start"
    val json =
      s"""{"zarr_format": 3, "node_type": "array",
         | "shape": [2, 4, 4], "data_type": "uint8",
         | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 4, 4]}},
         | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
         | "fill_value": 0,
         | "codecs": [{"name": "sharding_indexed", "configuration": {
         |   "chunk_shape": [2, 2, 2],
         |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
         |              {"name": "gzip", "configuration": {"level": 6}}],
         |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
         |                    {"name": "crc32c"}],
         |   "index_location": "$loc"}}]}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "zarr.json"), json)
    // voxel value = x + 10*y + 100*z (1-based coords), bytes in C-order over
    // dims (z, y, x) = x fastest — one inner cell covers x0..x0+1, y0..y0+1, z 1..2
    def cellBytes(wx: Int, wy: Int): Array[Byte] = {
      val out = new Array[Byte](8)
      var i = 0
      for (z <- 1 to 2; y <- (2 * wy + 1) to (2 * wy + 2); x <- (2 * wx + 1) to (2 * wx + 2)) {
        out(i) = (x + 10 * y + 100 * z).toByte; i += 1
      }
      out
    }
    // present cells: (0,0), (1,0), (0,1); missing: (1,1). C-order linear
    // over inner dims (z=1, y=2, x=2): idx = wy*2 + wx
    val present = Seq((0, 0), (1, 0), (0, 1)).map { case (wx, wy) =>
      (wy * 2 + wx) -> gz(cellBytes(wx, wy))
    }.toMap
    val nIdx = 4 * 16 + 4
    val dataLen = present.values.map(_.length).sum
    val buf = ByteBuffer.allocate(nIdx + dataLen)
    val entries = Array.fill(8)(-1L)
    val dataStart = if (indexAtEnd) 0 else nIdx
    buf.position(dataStart)
    present.toSeq.sortBy(_._1).foreach { case (cell, blob) =>
      entries(cell * 2) = buf.position().toLong
      entries(cell * 2 + 1) = blob.length.toLong
      buf.put(blob)
    }
    val idx = ByteBuffer.allocate(nIdx).order(ByteOrder.LITTLE_ENDIAN)
    entries.foreach(idx.putLong)
    val crc = new java.util.zip.CRC32C
    crc.update(idx.array(), 0, 64)
    idx.putInt(crc.getValue.toInt)
    if (indexAtEnd) buf.put(idx.array()) else { buf.position(0); buf.put(idx.array()) }
    val dir = java.nio.file.Paths.get(root, "c", "0", "0")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("0"), buf.array())
    root
  }

  private def expectGolden(root: String): Unit = {
    val vol = Zarr3.open(spark, root)
    assert(vol.keyStyle == "zarr3-shard")
    val cut = vol.cutout(Box(1, 4, 1, 4, 1, 2))
    for (z <- 1 to 2; y <- 1 to 4; x <- 1 to 4) {
      val want = if (x >= 3 && y >= 3) 0 else (x + 10 * y + 100 * z) & 0xff
      assert((cut.getLong(x - 1, y - 1, z - 1, 0) & 0xff) == want, s"($x,$y,$z)")
    }
    // missing inner cell is reported at inner-chunk grain
    val missing = vol.missingChunks(Box(1, 4, 1, 4, 1, 2)).collect().toSet
    assert(missing == Set("c/0/1/1"))
  }

  test("golden sharded store reads back exactly (index at end)") {
    expectGolden(buildGolden(indexAtEnd = true))
  }

  test("golden sharded store reads back exactly (index at start)") {
    expectGolden(buildGolden(indexAtEnd = false))
  }

  test("corrupted index CRC32C fails loudly") {
    val root = buildGolden(indexAtEnd = true)
    val p = java.nio.file.Paths.get(root, "c", "0", "0", "0")
    val bytes = java.nio.file.Files.readAllBytes(p)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x5a).toByte
    java.nio.file.Files.write(p, bytes)
    Shard.invalidate(root, "c/0/0/0")
    val e = intercept[Exception] {
      Zarr3.open(spark, root).cutout(Box(1, 4, 1, 4, 1, 2))
    }
    assert(e.getMessage != null)
  }

  test("engine roundtrip: one object per shard, inner-chunk reads, RMW, reopen") {
    val root = SparkSuite.tempDir("graft-z3shard-rt")
    val vol = Zarr3.createSharded(spark, root, shape = (20, 12, 8),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 24, 12, 8, 1, (1, 1, 1))
    vol.ingest(buf)
    // object count = SHARD count (ceil(20/8) x ceil(12/8) x ceil(8/4) =
    // 3*2*2 = 12), not the 5*3*4 = 60 inner chunks
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    val objects = files(new java.io.File(root, "c"))
    assert(objects.length == 12, s"expected 12 shard objects, got ${objects.length}")
    // values survive the store at inner-chunk addressing
    val reopened = Zarr3.open(spark, root)
    assert(reopened.shard.contains(Shard.Params(2, 2, 2, crc32c = true, indexAtEnd = true)))
    val cut = reopened.cutout(Box(1, 20, 1, 12, 1, 8))
    for ((x, y, z) <- Seq((1, 1, 1), (9, 5, 3), (20, 12, 8), (13, 7, 6)))
      assert(cut.getLong(x - 1, y - 1, z - 1, 0) == buf.getLong(x - 1, y - 1, z - 1, 0))
    // nothing missing over the written box
    assert(reopened.missingChunks(Box(1, 20, 1, 12, 1, 8)).count() == 0)
    // RMW: overwrite ONE inner chunk; the shard's other cells survive
    val patch = VoxelBuffer.zeros(Meta.TUInt16, 4, 4, 2, 1, (1, 1, 1))
    for (z <- 0 until 2; y <- 0 until 4; x <- 0 until 4) patch.setLong(x, y, z, 0, 777)
    reopened.ingest(patch)
    val after = Zarr3.open(spark, root).cutout(Box(1, 20, 1, 12, 1, 8))
    assert(after.getLong(0, 0, 0, 0) == 777)
    assert(after.getLong(4, 0, 0, 0) == buf.getLong(4, 0, 0, 0), "sibling inner cell clobbered")
    assert(after.getLong(8, 8, 5, 0) == buf.getLong(8, 8, 5, 0))
  }

  test("ingests into disjoint inner cells of one shard both survive") {
    val root = SparkSuite.tempDir("graft-z3shard-disjoint")
    val vol = Zarr3.createSharded(spark, root, shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    val model = VoxelBuffer.zeros(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    for (b <- Seq(
        VoxelBuffer.sequenced(Meta.TUInt16, 4, 4, 2, 1, (1, 1, 1)), // cell (0,0,0) of shard 0
        VoxelBuffer.sequenced(Meta.TUInt16, 3, 4, 4, 1, (5, 5, 1)), // cells (1,1,0..1), partly
        VoxelBuffer.sequenced(Meta.TUInt16, 8, 4, 2, 1, (5, 1, 3)))) { // spans shards 0 and 1
      vol.ingest(b)
      model.blit(b, b.box)
      assert(Zarr3.open(spark, root).cutout(model.box) == model, b.box)
    }
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    assert(files(new java.io.File(root, "c")).length == 2)
  }

  test("partial-coverage sharded read costs one index + one GET per touched cell, never the shard") {
    import scala.jdk.CollectionConverters._
    // the petavoxel-layout read-amplification contract at scale shape: a
    // shard spans MANY inner cells (4×4×4 = 64) and the query box covers a
    // partial edge region — the engine must fetch each touched inner cell
    // once by ranged GET (plus the bounded index), never the shard object
    val root = SparkSuite.tempDir("graft-z3shard-ramp")
    val vol = Zarr3.createSharded(spark, root, shape = (32, 32, 8),
      shardShape = (16, 16, 8), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 32, 32, 8, 1, (1, 1, 1))
    vol.ingest(buf)
    val q = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int)]()
    graft.volume.ChunkStore.rangeTrace.set(q)
    val cut = try Zarr3.open(spark, root).cutout(Box(3, 18, 3, 10, 1, 3))
      finally graft.volume.ChunkStore.rangeTrace.set(null)
    assert(cut.getLong(0, 0, 0, 0) == buf.getLong(2, 2, 0, 0), "cut content wrong")
    val mine = q.asScala.toSeq.filter(_._1.startsWith(root))
    val params = Shard.Params(4, 4, 4, crc32c = true, indexAtEnd = true)
    val (idx, cells) = mine.partition(_._3 == params.indexBytes)
    // inner cells overlapping Box(3..18, 3..10, 1..3): 5 × 3 × 2 = 30,
    // each fetched EXACTLY once (partial edge coverage does not re-fetch)
    assert(cells.size == 30, s"cell GETs: ${cells.size} — ${cells.take(5)}")
    // index: at least once per touched shard (2), at most once per
    // (cutout worker, shard) thanks to the call-scoped cache
    val workers = graft.volume.Volume.workerBound(spark.sparkContext)
    assert(idx.size >= 2 && idx.size <= 2 * workers, s"index GETs: ${idx.size}")
    // only the two x-adjacent shards are ever touched
    assert(mine.map(_._1).distinct.size == 2, mine.map(_._1).distinct)
    // and no GET approaches shard granularity: cells are tiny gzip blobs
    assert(cells.forall(_._3 < 500), s"oversized cell GET: ${cells.maxBy(_._3)}")
  }

  test("mip building on a non-precomputed layout fails loudly") {
    val root = SparkSuite.tempDir("graft-z3shard-mip")
    val vol = graft.sources.Zarr3.createSharded(spark, root, shape = (8, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt8, encoding = "gzip")
    val e = intercept[IllegalArgumentException] {
      graft.ops.VolumeOps.buildNextMip(vol, Box(1, 8, 1, 8, 1, 4))
    }
    assert(e.getMessage.contains("precomputed-layout only"))
  }

  test("rechunk reads sharded sources through the shard index (not zero-filled)") {
    // regression: rechunk used readOpt-by-key, which is a purely LOGICAL
    // key on sharded stores — every chunk read None and the destination
    // silently became all zeros
    val root = SparkSuite.tempDir("graft-z3shard-rck")
    val vol = graft.sources.Zarr3.createSharded(spark, root, shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    vol.ingest(buf)
    val dst = SparkSuite.tempDir("graft-z3shard-rck-dst")
    val n = graft.ops.VolumeOps.rechunk(
      graft.sources.Zarr3.open(spark, root), Box(1, 16, 1, 8, 1, 4), dst, (8, 8, 4))
    assert(n == 2L)
    val out = graft.volume.Volume.open(spark, dst).cutout(Box(1, 16, 1, 8, 1, 4))
    assert(out == buf, "rechunked store must carry the source voxels bit-for-bit")
  }

  test("distributed write (fromVoxels) groups by shard; voxels() scans shards") {
    import org.apache.spark.sql.functions._
    val root = SparkSuite.tempDir("graft-z3shard-fv")
    val vol = Zarr3.createSharded(spark, root, shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt32, encoding = "gzip")
    val df = spark.range(16L * 8 * 4).selectExpr(
      "cast(id % 16 + 1 as int) as x",
      "cast((id div 16) % 8 + 1 as int) as y",
      "cast(id div 128 + 1 as int) as z",
      "cast(id as long) as value")
    assert(vol.fromVoxels(df) == 16L) // 16 inner chunks written
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    assert(files(new java.io.File(root, "c")).length == 2) // 2 shards
    // native scan path over the sharded store
    graft.plans.GraftExtensions.install(spark)
    val got = Zarr3.open(spark, root).voxels()
      .agg(sum(col("value")), count(lit(1))).head
    val n = 16L * 8 * 4
    assert(got.getLong(1) == n)
    assert(got.getLong(0) == n * (n - 1) / 2)
  }

  test("fromVoxels keeps an existing shard's untouched inner cells") {
    import org.apache.spark.sql.functions._
    val root = SparkSuite.tempDir("graft-z3shard-fv-keep")
    // 2 x 2 x 1 shards of 2 x 2 x 2 inner cells of 4 x 4 x 2 voxels
    val vol = Zarr3.createSharded(spark, root, shape = (16, 16, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    val model = VoxelBuffer.sequenced(Meta.TUInt16, 16, 16, 4, 1, (1, 1, 1))
    vol.ingest(model)
    // cells (0,0,0) and (1,1,1) of shard (0,0,0), a corner voxel of cell
    // (0,0,0) of shard (1,1,0), spread over 4 partitions; every other cell of
    // both shards, and all of the other two shards, stays as ingested
    val cells = Seq(Box(1, 4, 1, 4, 1, 2), Box(5, 8, 5, 8, 3, 4))
    val voxels = cells.map { b =>
      spark.range(0, b.numVoxels, 1, 2).select(
        (lit(b.x.lo) + col("id") % 4).cast("int").as("x"),
        (lit(b.y.lo) + (col("id") / 4).cast("long") % 4).cast("int").as("y"),
        (lit(b.z.lo) + (col("id") / 16).cast("long")).cast("int").as("z"))
    }.reduce(_ union _).union(spark.range(1).select(lit(9).as("x"), lit(9).as("y"), lit(1).as("z")))
    assert(vol.fromVoxels(voxels.withColumn("value", col("x") * 1000 + col("y") * 10 + col("z"))) == 3L)
    for (b <- cells :+ Box(9, 12, 9, 12, 1, 2))
      model.blit(VoxelBuffer.zeros(Meta.TUInt16, 4, 4, 2, 1, (b.x.lo, b.y.lo, b.z.lo)), b)
    for (b <- cells; z <- b.z.lo to b.z.hi; y <- b.y.lo to b.y.hi; x <- b.x.lo to b.x.hi)
      model.setLong(x - 1, y - 1, z - 1, 0, x * 1000L + y * 10 + z)
    model.setLong(8, 8, 0, 0, 9091L)
    assert(Zarr3.open(spark, root).cutout(model.box) == model)
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    assert(files(new java.io.File(root, "c")).length == 4)
  }
}
