package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Grid.Box
import graft.core.Meta
import graft.testutil.SparkSuite
import graft.volume.{Volume, VoxelBuffer}

class VolumeOpsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("storageReport: stored bytes match the on-disk objects; raw bytes match clamped extents") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(ArrayOps.demoScale.copy(size = (60, 60, 7))))
    val root = SparkSuite.tempDir("graft-srep")
    val vol = Volume.create(spark, root, meta)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 60, 60, 7, 1, (1, 1, 1)))
    val rows = vol.storageReport(Box(1, 60, 1, 60, 1, 7)).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(rows.size == 8, "2x2x2 chunk grid")
    val files = new java.io.File(s"$root/1_1_1").listFiles()
      .filterNot(_.getName.startsWith(".")).map(_.length())
    assert(files.length == 8, "exactly one object per chunk, no sidecars")
    assert(rows.values.map(_._1).toSeq.sorted == files.toSeq.sorted,
      "listing sizes must equal the on-disk object sizes")
    val (cxs, cys, czs) = (rows.keys.map(_._1), rows.keys.map(_._2), rows.keys.map(_._3))
    rows.foreach { case ((cx, cy, cz), (_, raw)) =>
      val ex = if (cx == cxs.max) 28 else 32 // 60 = 32 + 28
      val ey = if (cy == cys.max) 28 else 32
      val ez = if (cz == czs.max) 3 else 4 // 7 = 4 + 3
      assert(raw == ex.toLong * ey * ez, s"chunk ($cx,$cy,$cz) clamped raw size")
    }
  }

  test("a13 label stats: exact vs direct recomputation from the sequenced buffer") {
    val out = ArrayOps.a13_label_stats(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> r).toMap
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 64, 64, 8, 1, (1, 1, 1))
    case class Acc(var n: Long = 0, var x0: Int = Int.MaxValue, var x1: Int = Int.MinValue,
      var y0: Int = Int.MaxValue, var y1: Int = Int.MinValue,
      var z0: Int = Int.MaxValue, var z1: Int = Int.MinValue,
      var sx: Long = 0, var sy: Long = 0, var sz: Long = 0)
    val acc = scala.collection.mutable.Map[Long, Acc]()
    for (z <- 1 to 8; y <- 1 to 64; x <- 1 to 64) {
      val label = buf.getLong(x - 1, y - 1, z - 1) / 1024
      val a = acc.getOrElseUpdate(label, Acc())
      a.n += 1
      a.x0 = a.x0 min x; a.x1 = a.x1 max x
      a.y0 = a.y0 min y; a.y1 = a.y1 max y
      a.z0 = a.z0 min z; a.z1 = a.z1 max z
      a.sx += x; a.sy += y; a.sz += z
    }
    assert(out.keySet == acc.keySet.toSet, "label sets differ")
    assert(acc.values.map(_.n).sum == 64L * 64 * 8)
    def r4(v: Double): Double = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    acc.foreach { case (label, a) =>
      val row = out(label)
      assert(row.getLong(1) == a.n, s"label $label count")
      assert((row.getInt(2), row.getInt(3), row.getInt(4), row.getInt(5), row.getInt(6), row.getInt(7)) ==
        ((a.x0, a.x1, a.y0, a.y1, a.z0, a.z1)), s"label $label bbox")
      assert(math.abs(row.getDouble(8) - r4(a.sx.toDouble / a.n)) < 1e-9, s"label $label cx")
      assert(math.abs(row.getDouble(9) - r4(a.sy.toDouble / a.n)) < 1e-9, s"label $label cy")
      assert(math.abs(row.getDouble(10) - r4(a.sz.toDouble / a.n)) < 1e-9, s"label $label cz")
    }
  }

  test("downsampleAvg mean-pools 2x2x1 blocks into the next mip") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(ArrayOps.demoScale)).withNumMips(2)
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-ds"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 8, 1, (1, 1, 1))
    vol.ingest(buf)

    val written = VolumeOps.buildNextMip(vol, Box(1, 64, 1, 64, 1, 8))
    assert(written == 2) // 32x32x8 voxels over 32x32x4 chunks

    val mip2 = new Volume(spark, vol.root, meta, 2)
    val out = mip2.cutout(Box(1, 32, 1, 32, 1, 8))
    // spot-check block means (HALF_UP rounding via round())
    for ((tx, ty, tz) <- Seq((0, 0, 0), (5, 9, 3), (31, 31, 7))) {
      val vals = for (dx <- 0 to 1; dy <- 0 to 1)
        yield buf.getLong(tx * 2 + dx, ty * 2 + dy, tz)
      val mean = math.round(vals.sum.toDouble / 4)
      assert(out.getLong(tx, ty, tz) == mean, s"block ($tx,$ty,$tz)")
    }
  }

  test("downsampleMode majority-votes segmentation labels with deterministic ties") {
    val meta = Meta.VolumeMeta("segmentation", Meta.TUInt32, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0)))).withNumMips(2)
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-dsm"), meta)
    // labels: left half 7, right half 9, with one mixed column
    val buf = VoxelBuffer.zeros(Meta.TUInt32, 32, 32, 4, 1, (1, 1, 1))
    for (z <- 0 until 4; y <- 0 until 32; x <- 0 until 32)
      buf.setLong(x, y, z, 0, if (x < 16) 7L else 9L)
    vol.ingest(buf)
    VolumeOps.buildNextMip(vol, Box(1, 32, 1, 32, 1, 4))
    val out = new Volume(spark, vol.root, meta, 2).cutout(Box(1, 16, 1, 16, 1, 4))
    for (z <- 0 until 4; y <- 0 until 16; x <- 0 until 16)
      assert(out.getLong(x, y, z) == (if (x < 8) 7L else 9L), s"($x,$y,$z)")
  }

  test("buildPyramid chains levels; each mip halves x/y") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (64, 64, 4), (0, 0, 0)))).withNumMips(3)
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-pyr"), meta)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 4, 1, (1, 1, 1)))
    val written = VolumeOps.buildPyramid(vol, Box(1, 64, 1, 64, 1, 4), topMip = 3)
    assert(written.length == 2)
    val mip3 = new Volume(spark, vol.root, meta, 3)
    val out = mip3.cutout(Box(1, 16, 1, 16, 1, 4))
    assert(out.numVoxels == 16L * 16 * 4)
    // mip3 voxel (0,0,0) is the mean-of-means of the 4x4 block at mip1
    assert(out.getLong(0, 0, 0) >= 0)
  }

  test("downsampleAvg preserves fractional means for float volumes (regression)") {
    val meta = Meta.VolumeMeta("image", Meta.TFloat32, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0)))).withNumMips(2)
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-dsf"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TFloat32, 32, 32, 4, 1, (1, 1, 1)) // values in [0,1)
    vol.ingest(buf)
    VolumeOps.buildNextMip(vol, Box(1, 32, 1, 32, 1, 4))
    val out = new Volume(spark, vol.root, meta, 2).cutout(Box(1, 16, 1, 16, 1, 4))
    var nonIntegral = 0
    for (z <- 0 until 4; y <- 0 until 16; x <- 0 until 16) {
      val vals = for (dx <- 0 to 1; dy <- 0 to 1) yield buf.getDouble(x * 2 + dx, y * 2 + dy, z)
      val mean = (vals.sum / 4).toFloat
      assert(math.abs(out.getDouble(x, y, z) - mean) < 1e-6, s"($x,$y,$z)")
      if (mean != math.rint(mean)) nonIntegral += 1
    }
    assert(nonIntegral > 500, "fixture should exercise fractional means")
  }

  test("fromVoxels of an empty DataFrame returns 0 instead of crashing (regression)") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-empty"), meta)
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), vol.voxelSchema)
    assert(vol.fromVoxels(empty) == 0L)
  }

  test("rechunk re-lays a volume onto a different grid and encoding, bit-equal") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (100, 100, 5), "gzip", (1, 1, 1), (200, 200, 10), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-rck-src"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 200, 200, 10, 1, (1, 1, 1))
    vol.ingest(buf)
    val destRoot = SparkSuite.tempDir("graft-rck-dst")
    val written = VolumeOps.rechunk(vol, Box(1, 200, 1, 200, 1, 10), destRoot,
      chunkSize = (64, 64, 8), encoding = Some("zstd"))
    // ceil(200/64)^2 * ceil(10/8) = 4*4*2 chunks
    assert(written == 32)
    val dest = Volume.open(spark, destRoot)
    assert(dest.ctx.chunkSize == ((64, 64, 8)))
    assert(dest.ctx.encoding == "zstd")
    // new grid's keys on disk, clipped at the boundary
    val dir = new java.io.File(destRoot, "1_1_1")
    val keys = dir.listFiles().map(_.getName).toSet
    assert(keys.contains("0-64_0-64_0-8"))
    assert(keys.contains("192-200_192-200_8-10")) // edge chunk clipped
    assert(keys.size == 32)
    // bit-equal content across the re-layout
    val out = dest.cutout(Box(1, 200, 1, 200, 1, 10))
    for (z <- 0 until 10; y <- 0 until 200 by 7; x <- 0 until 200 by 7)
      assert(out.getLong(x, y, z) == buf.getLong(x, y, z), s"($x,$y,$z)")
  }

  test("rechunk of a sub-box fills boundary chunks with source data, not zeros") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (100, 100, 5), "gzip", (1, 1, 1), (200, 200, 10), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-rckb-src"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 200, 200, 10, 1, (1, 1, 1))
    vol.ingest(buf)
    val destRoot = SparkSuite.tempDir("graft-rckb-dst")
    // box covers x,y in 1..100 — straddles the new 64-grid at 64..128
    val written = VolumeOps.rechunk(vol, Box(1, 100, 1, 100, 1, 10), destRoot,
      chunkSize = (64, 64, 8), encoding = Some("zstd"))
    assert(written == 8) // 2 x-chunks * 2 y-chunks * 2 z-chunks overlap the box
    val dir = new java.io.File(destRoot, "1_1_1")
    val keys = dir.listFiles().map(_.getName).toSet
    assert(keys.contains("64-128_64-128_0-8")) // straddles the box boundary
    assert(!keys.exists(_.startsWith("128-")), "chunks wholly outside box must stay absent")
    // the spill region (x,y in 101..128) must be SOURCE values, not zeros
    val dest = Volume.open(spark, destRoot)
    val out = dest.cutout(Box(1, 128, 1, 128, 1, 10))
    for (z <- 0 until 10; y <- 96 until 128 by 5; x <- 96 until 128 by 5)
      assert(out.getLong(x, y, z) == buf.getLong(x, y, z), s"spill ($x,$y,$z)")
  }

  test("rechunk is one plain Spark job; a box outside the volume launches none") {
    import graft.testutil.PlanProbe.jobsAndQueries
    val meta = Meta.VolumeMeta("image", Meta.TUInt16, 1, Vector(
      Meta.ScaleMeta("1_1_1", (100, 100, 5), "gzip", (1, 1, 1), (200, 200, 10), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-rckj-src"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 200, 200, 10, 1, (1, 1, 1))
    vol.ingest(buf)
    val before = graft.volume.ChunkStore.confDeserialized.get()
    var written = -1L
    for ((box, cs, n) <- Seq(
        (Box(1, 200, 1, 200, 1, 10), (64, 64, 8), 32L),
        (Box(30, 170, 1, 200, 4, 7), (128, 32, 4), 2L * 7 * 2))) {
      val destRoot = SparkSuite.tempDir("graft-rckj-dst")
      assert(jobsAndQueries(spark) { written = VolumeOps.rechunk(vol, box, destRoot, cs) } == ((1, 0)))
      assert(written == n)
      assert(Volume.open(spark, destRoot).cutout(box) == buf.slice(box))
    }
    val destRoot = SparkSuite.tempDir("graft-rckj-out")
    assert(jobsAndQueries(spark) {
      written = VolumeOps.rechunk(vol, Box(201, 300, 1, 10, 1, 10), destRoot, (64, 64, 8))
    } == ((0, 0)))
    assert(written == 0L)
    assert(new java.io.File(destRoot).list().toSeq == Seq("info"))
    // source and destination handles ship their store confs as broadcasts
    assert(graft.volume.ChunkStore.confDeserialized.get() == before)
  }

  test("a19 mip audit localizes the planted corruption to its z range") {
    val rows = ArrayOps.a19_mip_audit(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == (1 to 8).toSet)
    rows.foreach { case (z, (cells, m, mm)) =>
      assert(m + mm == cells, s"z=$z counts don't tie out")
      if (z <= 4) assert(mm == 0, s"pristine z=$z flagged: $mm mismatches")
      else assert(mm > 0, s"tampered z=$z not detected")
    }
  }

  test("a27 max-intensity projection equals the brute-force per-column max") {
    val out = ArrayOps.a27_mip_project(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.size == 64 * 64)
    // brute force straight from the generating formula
    for (y <- 1 to 64; x <- 1 to 64) {
      val mx = (1 to 8).map(z => (x * 13 + y * 29 + z * z * 41) % 256).max.toLong
      assert(out((x, y)) == mx, s"($x,$y)")
    }
    // the projection must actually mix depths (not all maxima from one z)
    val argZ = for (y <- 1 to 64; x <- 1 to 64)
      yield (1 to 8).maxBy(z => (x * 13 + y * 29 + z * z * 41) % 256)
    assert(argZ.distinct.length > 1)
  }

  test("a34 object catalog: planted block extents exact; holes shrink counts, not boxes") {
    val got = ArrayOps.a34_object_catalog(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6), r.getInt(7), r.getDouble(8)))).toMap
    assert(got.size == 16)
    for (g <- 1 to 16) {
      val bx = (g - 1) % 4; val by = (g - 1) / 4
      val (n, x0, x1, y0, y1, z0, z1, fill) = got(g.toLong)
      // block extents survive the punched holes (holes are interior-sparse)
      assert((x0, x1, y0, y1, z0, z1) ==
        ((bx * 16 + 1, bx * 16 + 16, by * 16 + 1, by * 16 + 16, 1, 8)), s"label $g box")
      val expectedN = (for (z <- 1 to 8; y <- by * 16 + 1 to by * 16 + 16;
        x <- bx * 16 + 1 to bx * 16 + 16) yield ()).size -
        (for (z <- 1 to 8; y <- by * 16 + 1 to by * 16 + 16; x <- bx * 16 + 1 to bx * 16 + 16
          if (x + y + z) % 11 == 0) yield ()).size
      assert(n == expectedN, s"label $g count")
      assert(fill < 1.0 && fill > 0.85, s"label $g fill $fill reflects the holes")
    }
  }

  test("a33 chunk dedup: the four uniform chunks share one digest, bright chunks are unique") {
    val got = ArrayOps.a33_chunk_dedup(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // planted structure: one digest with 4 copies, four singleton digests
    assert(got == Map(4L -> ((1L, 4L)), 1L -> ((4L, 4L))), got.toString)
    // the manifest digests are real store bytes: re-derive one from disk
    val manifest = spark.read.parquet(graft.ops.ArrayOps.voxelDumpRoot + "/a33").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getString(3)).toMap
    assert(manifest.size == 8 && manifest.values.toSet.size == 5)
  }

  test("a31 upsample: geometry-weighted folds match the mip-1 brute force") {
    import org.apache.spark.sql.functions._
    val got = ArrayOps.a31_upsample(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val mip1 = spark.read.parquet(graft.ops.ArrayOps.voxelDumpRoot + "/a31")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val want = mip1.groupBy(_._3).view.mapValues { rows =>
      (rows.length * 4L, rows.map(_._4).sum * 4,
        rows.map(r => r._4 * 2 * (4L * r._1 - 1)).sum,
        rows.map(r => r._4 * 2 * (4L * r._2 - 1)).sum)
    }.toMap
    assert(got == want)
    // every z layer fully covered: 64×64 upsampled voxels each
    assert(got.values.forall(_._1 == 64L * 64) && got.size == 8)
  }

  test("a30 zone map: pruned scan equals filtered full scan and never fetches pruned blobs") {
    import org.apache.spark.sql.functions._
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(ArrayOps.demoScale))
    val root = SparkSuite.tempDir("graft-a30spec")
    val vol = Volume.create(spark, root, meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt8, 64, 64, 8, 1, (1, 1, 1))
    for (z <- 1 to 8; y <- 1 to 64; x <- 1 to 64) {
      val dark = ((x - 1) / 32 + (y - 1) / 32 + (z - 1) / 4) % 2 == 0
      buf.setLong(x - 1, y - 1, z - 1, 0,
        if (dark) 5L else 100L + (x * 13 + y * 29 + z * 41) % 100)
    }
    vol.ingest(buf)
    val box = Box(1, 64, 1, 64, 1, 8)
    val stats = vol.chunkStats(box).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> ((r.getLong(3), r.getLong(4))))
      .toMap
    assert(stats.size == 8)
    assert(stats.values.count(_._2 == 5L) == 4, "4 uniform-dark chunks")
    assert(stats.values.count(_._2 >= 100L) == 4, "4 bright chunks")
    // persist the zone map BEFORE any store mutation — the at-rest artifact
    val statsPath = SparkSuite.tempDir("graft-a30spec-stats")
    vol.chunkStats(box).write.mode("overwrite").parquet(statsPath)
    val statsDf = spark.read.parquet(statsPath)
    val want = vol.toVoxels(box).filter(col("value") >= 50)
      .select(col("x"), col("y"), col("z"), col("value").cast("long"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    val got = vol.toVoxelsAtLeast(box, 50L)
      .select(col("x"), col("y"), col("z"), col("value").cast("long"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(got == want && got.nonEmpty)
    // the "never fetched" proof: delete the dark blobs, reopen strict
    // (fillMissing = false) — the pruned scan must not notice, a full
    // scan must fail loudly
    val pruned = stats.filter(_._2._2 < 50L).keys.toSet
    val dir = java.nio.file.Paths.get(root, "1_1_1")
    java.nio.file.Files.list(dir).forEach { p =>
      val name = p.getFileName.toString.stripSuffix(".gz")
      val Array(xs, ys, zs) = name.split("_")
      val cx = xs.split("-")(0).toInt / 32 + 1
      val cy = ys.split("-")(0).toInt / 32 + 1
      val cz = zs.split("-")(0).toInt / 4 + 1
      if (pruned.contains((cx, cy, cz))) java.nio.file.Files.delete(p)
    }
    val strict = Volume.open(spark, root, fillMissing = false)
    val gotAfter = strict.toVoxelsAtLeast(box, 50L, Some(statsDf))
      .select(col("x"), col("y"), col("z"), col("value").cast("long"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    assert(gotAfter == want, "pruned blobs were never needed")
    assertThrows[org.apache.spark.SparkException](strict.toVoxels(box).count())
  }

  test("a29 halo blur equals the brute-force boundary-aware floor mean") {
    val got = ArrayOps.a29_blur(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def v(x: Int, y: Int, z: Int) = ((x * 13 + y * 29 + z * z * 41) % 256).toLong
    val want = scala.collection.mutable.Map.empty[Int, (Long, Long)]
    for (z <- 1 to 8; y <- 1 to 64; x <- 1 to 64) {
      val nb = Seq((x - 1, y, z), (x + 1, y, z), (x, y - 1, z), (x, y + 1, z),
        (x, y, z - 1), (x, y, z + 1))
        .filter { case (a, b, c) => a >= 1 && a <= 64 && b >= 1 && b <= 64 && c >= 1 && c <= 8 }
      val s = v(x, y, z) + nb.map((v _).tupled).sum
      val bv = Math.floorDiv(s, nb.length + 1L)
      val (n0, s0) = want.getOrElse(z, (0L, 0L))
      want(z) = (n0 + 1, s0 + bv)
    }
    assert(got == want.toMap)
    // every z layer total (64*64 voxels each), all seams crossed
    assert(got.keySet == (1 to 8).toSet && got.values.forall(_._1 == 64L * 64))
  }

  test("a28 contingency separates merge, split, and noise error modes exactly") {
    val got = ArrayOps.a28_seg_contingency(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force from the generating formula
    val want = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (z <- 1 to 8; y <- 1 to 64; x <- 1 to 64) {
      val g = 1 + (x - 1) / 16 + 4 * ((y - 1) / 16)
      val p =
        if (g == 6) 5
        else if (g == 11 && x > 40) 17
        else if (g == 1 && (x + y + z) % 13 == 0) 2
        else g
      val k = (g.toLong, p.toLong)
      want(k) = want.getOrElse(k, 0L) + 1
    }
    assert(got == want.toMap)
    // merge: ALL of gold 6 landed on pred 5 (16x16x8 block)
    assert(got((6L, 5L)) == 16 * 16 * 8 && !got.contains((6L, 6L)))
    // split: gold 11 fans into exactly two pred labels that tile the block
    assert(got((11L, 11L)) + got((11L, 17L)) == 16 * 16 * 8)
    // noise: sparse, nonzero, far below the block size
    assert(got((1L, 2L)) > 0 && got((1L, 2L)) < 16 * 16 * 8 / 4)
  }

  test("a21 histogram percentiles equal the sorted-array brute force") {
    val row = ArrayOps.a21_percentiles(spark, "/root/testdata/sf0.001").collect().head
    // replay the closed-form intensity field and take percentiles the naive
    // way: sort every voxel value, index at ceil(q*n)
    val vals = (for (z <- 1 to 8; y <- 1 to 64; x <- 1 to 64) yield {
      val u = (x * 31 + y * 17 + z * 7) % 251
      (u * u / 251).toLong
    }).sorted
    def pct(q: Double): Long = vals(math.ceil(q * vals.size).toInt - 1)
    assert(row.getLong(0) == vals.size.toLong)
    assert((row.getLong(1), row.getLong(2)) == (vals.head, vals.last))
    assert((row.getLong(3), row.getLong(4), row.getLong(5)) == (pct(0.5), pct(0.9), pct(0.99)),
      s"got $row want (${pct(0.5)}, ${pct(0.9)}, ${pct(0.99)})")
    // the field must actually be skewed, or the quantile test is vacuous
    assert(pct(0.5) < pct(0.9) && pct(0.9) < pct(0.99))
  }

  test("a24 equalization stretches the skewed field to the full range through the store") {
    val rows = ArrayOps.a24_hist_equalize(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 8)
    assert(rows.map(_.getLong(3)).sum == 64L * 64 * 8)            // every voxel
    assert(rows.map(_.getLong(5)).min == 0L)                      // full low end
    assert(rows.map(_.getLong(6)).max == 255L)                    // full high end
    // equalization target: the mean moves from the skewed low-mass field
    // (~quadratic, mean << 128) toward mid-range
    val mean = rows.map(_.getLong(4)).sum.toDouble / (64L * 64 * 8)
    assert(mean > 100 && mean < 160, s"equalized mean $mean")
  }

  test("a36 Otsu lands in the bimodal valley and binarizes exactly the bright mode") {
    val rows = ArrayOps.a36_otsu_threshold(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 8)
    val thr = rows.head._6
    // the field is dark 30-69 / bright 160-219: any threshold in [69, 160)
    // separates the modes perfectly; Otsu must find that valley
    assert(thr >= 69 && thr < 160, s"threshold $thr missed the valley")
    // the per-chunk foreground census equals the closed-form bright-mode
    // count — the write-back changed no voxel's class
    for ((cx, cy, cz, n, nFg, t) <- rows) {
      assert(t == thr && n == 32L * 32 * 4)
      var bright = 0L
      for {
        x <- (cx - 1) * 32 + 1 to (cx * 32).toInt
        y <- (cy - 1) * 32 + 1 to (cy * 32).toInt
        z <- (cz - 1) * 4 + 1 to (cz * 4).toInt
      } if ((x * 13 + y * 29 + z * 3) % 7 >= 3) bright += 1
      assert(nFg == bright, s"chunk ($cx,$cy,$cz): $nFg != $bright")
    }
  }

  test("a26 mip selection: budget rule routes ROIs, folded spans served exactly") {
    val rows = ArrayOps.a26_mip_select(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    rows.foreach { case (id, mip, nVox, vsum) =>
      val roi = ArrayOps.a26Rois.find(_._1 == id).get
      val span = (roi._3 - roi._2 + 1).toLong * (roi._5 - roi._4 + 1) * (roi._7 - roi._6 + 1)
      if (span <= ArrayOps.A26Budget) {
        assert(mip == 1 && nVox == span, s"roi $id")
      } else {
        assert(mip == 2, s"roi $id")
        def fold(lo: Int, hi: Int) = ((hi - 1) / 2 + 1) - ((lo - 1) / 2 + 1) + 1
        val folded = fold(roi._2, roi._3).toLong * fold(roi._4, roi._5) * (roi._7 - roi._6 + 1)
        assert(nVox == folded, s"roi $id: $nVox != $folded")
        // folding must actually shrink the service volume below budget-ish
        assert(nVox < span / 2, s"roi $id barely folded")
      }
      assert(vsum > 0)
    }
    // both branches exercised
    assert(rows.count(_._2 == 1) == 5 && rows.count(_._2 == 2) == 5)
  }

  test("a23 ROI gather: every ROI filled exactly, overlaps counted per-ROI") {
    val rows = ArrayOps.a23_roi_gather(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 12)
    // all 12 ROIs sit fully inside the volume: 16*16*4 voxels each
    rows.foreach { r =>
      assert(r.getLong(1) == 16L * 16 * 4, r.toString)
      val (mn, mx) = (r.getLong(3), r.getLong(4))
      assert(mn >= 0 && mx <= 250 && mn < mx, r.toString)
      // vsum consistent with the closed-form pattern over the ROI box
      val id = r.getLong(0)
      val roi = ArrayOps.a23Rois.find(_._1 == id).get
      val want = (for {
        z <- roi._6 to roi._7; y <- roi._4 to roi._5; x <- roi._2 to roi._3
      } yield ((x * 3 + y * 5 + z * 7) % 251).toLong).sum
      assert(r.getLong(2) == want, s"roi $id vsum ${r.getLong(2)} want $want")
    }
    // ROIs overlap by construction: per-ROI voxel mass exceeds the
    // distinct union footprint, proving shared voxels count per ROI
    val distinctCovered = (for {
      roi <- ArrayOps.a23Rois
      z <- roi._6 to roi._7; y <- roi._4 to roi._5; x <- roi._2 to roi._3
    } yield (x, y, z)).toSet.size
    assert(rows.map(_.getLong(1)).sum > distinctCovered)
  }

  test("a39 mesh codec roundtrips, truncation fails loudly, stats match hand geometry") {
    import graft.core.MeshFragment
    // codec roundtrip on an irregular mesh
    val m = MeshFragment.Mesh(
      Array(0f, 0f, 0f, 2.5f, 0f, 0f, 0f, 3f, 0f, 1f, 1f, 4f, 7f, 7f, 7f),
      Array(0, 1, 2, 1, 2, 3, 0, 3, 4))
    val rt = MeshFragment.decode(MeshFragment.encode(m))
    assert(rt.vertices.toSeq == m.vertices.toSeq && rt.indices.toSeq == m.indices.toSeq)
    val bytes = MeshFragment.encode(m)
    assertThrows[IllegalArgumentException](MeshFragment.decode(bytes.take(10)))
    assertThrows[IllegalArgumentException](MeshFragment.decode(bytes.dropRight(2)))
    assert(MeshFragment.parseManifest(MeshFragment.manifestJson(Seq("5:0:0", "5:0:1")))
      == Seq("5:0:0", "5:0:1"))
    // the gated op against hand geometry
    val rows = ArrayOps.a39_mesh_stats(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getDouble(9)))
      .toMap
    assert(rows.keySet == (1L to 24L).toSet)
    rows.foreach { case (lab, (nv, nf, mnx, mxx, mny, mxy, mnz, mxz, area)) =>
      val s = 1 + lab % 3
      assert(nv == 4 && nf == 4)
      assert((mnx, mxx) == (10 * lab, 10 * lab + 4 * s))
      assert((mny, mxy) == (lab, lab + 4 * s))
      assert((mnz, mxz) == (lab % 5, lab % 5 + 4 * s))
      // 3 axis faces of 8s² + one oblique of 8s²√3
      val want = BigDecimal(3 * 8.0 * s * s +
        BigDecimal(math.sqrt(768.0 * s * s * s * s) / 2)
          .setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(area - want) < 1e-6, s"label $lab: area $area vs $want")
    }
  }

  test("a38 z-profile recovers the injected per-section drift exactly") {
    val rows = ArrayOps.a38_zprofile(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 8L))
    // per-section census from the closed form
    rows.foreach { case (z, n, vsum, vmean, _, _) =>
      assert(n == 64L * 64)
      val want = (for (y <- 1 to 64; x <- 1 to 64) yield ((x * 7 + y * 3) % 97 + 3 * z).toLong).sum
      assert(vsum == want, s"z=$z")
      assert(vmean == BigDecimal(vsum.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the noise term is z-independent, so the fitted drift is EXACTLY the
    // injected 3 counts/section and every section sits on the line
    assert(rows.forall(_._5 == 3.0), s"drift ${rows.head._5}")
    val base = rows.head._6
    rows.foreach { case (z, _, _, vmean, _, b) =>
      assert(b == base)
      assert(math.abs(vmean - (base + 3.0 * z)) < 1e-3, s"z=$z off the drift line")
    }
  }
}
