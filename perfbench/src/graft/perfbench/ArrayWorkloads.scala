package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Grid
import graft.core.Grid.Box
import graft.core.Meta
import graft.ops.VolumeOps
import graft.volume.{ChunkStore, Volume, VoxelBuffer}

/** Geometry shared by the array workloads: one u8 gzip precomputed scale of
  * 512×512×256 voxels in 64³ chunks (256 objects, 64 MiB raw). */
object ArrayGeometry {
  val Shape: (Int, Int, Int) = (512, 512, 256)
  val Chunk: (Int, Int, Int) = (64, 64, 64)
  val Full: Box = Box(1, Shape._1, 1, Shape._2, 1, Shape._3)

  val VolMeta: Meta.VolumeMeta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
    Meta.ScaleMeta("4_4_40", Chunk, "gzip", (4, 4, 40), Shape, (0, 0, 0))))

  /** A box of the given size with a uniformly drawn origin inside the volume. */
  def randomBox(rng: SplittableRandom, sx: Int, sy: Int, sz: Int): Box = {
    val x0 = 1 + rng.nextInt(Shape._1 - sx + 1)
    val y0 = 1 + rng.nextInt(Shape._2 - sy + 1)
    val z0 = 1 + rng.nextInt(Shape._3 - sz + 1)
    Box(x0, x0 + sx - 1, y0, y0 + sy - 1, z0, z0 + sz - 1)
  }

  /** A chunk-aligned start coordinate whose box of `size` fits in `n`. */
  def alignedStart(rng: SplittableRandom, n: Int, size: Int, step: Int): Int =
    1 + step * rng.nextInt((n - size) / step + 1)

  def sameBytes(a: VoxelBuffer, b: VoxelBuffer): Boolean =
    a.box == b.box && java.util.Arrays.equals(a.bytes, b.bytes)

  /** Raw bytes of the store's chunk objects and of the voxels they hold. */
  def storedBytes(root: String, scaleKey: String): (Long, Long) = {
    val dir = new java.io.File(root, scaleKey)
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
    val raw = files.iterator.flatMap(f => Grid.parseKey(f.getName)).map(_.numVoxels).sum
    (files.iterator.map(_.length).sum, raw)
  }

  /** count(*), sum(value) and count(value >= 128) of a voxel relation. */
  def voxelAggregate(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r: Row = df.agg(count(lit(1)), sum(col("value")).cast("long"),
      count(when(col("value") >= 128, 1))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  /** The same aggregate computed from a model buffer. */
  def modelAggregate(model: VoxelBuffer, box: Box): (Long, Long, Long) = {
    var n = 0L; var s = 0L; var ge = 0L
    var z = box.z.lo
    while (z <= box.z.hi) {
      var y = box.y.lo
      while (y <= box.y.hi) {
        var x = box.x.lo
        while (x <= box.x.hi) {
          val v = model.getLong(x - model.origin._1, y - model.origin._2, z - model.origin._3)
          n += 1; s += v; if (v >= 128) ge += 1
          x += 1
        }
        y += 1
      }
      z += 1
    }
    (n, s, ge)
  }
}

/** Driver-side, single-threaded replay of chunk work through the public
  * per-chunk calls, so the chunkstore, codec and voxelbuffer layers get a
  * busy time each. The numbers are replay busy time, not the executors'. */
final class Replay(tracer: Tracer, vol: Volume) {
  private val ctx = vol.ctx
  private lazy val fs = ChunkStore.fs(ctx.root, vol.spark.sessionState.newHadoopConf())

  private var inLayer: String = null

  /** Time one layer call. Layer timers never nest, so no layer's busy time
    * holds another's; a nested one fails the replay request. */
  private def timed[T](layer: String)(f: => T): T = {
    if (inLayer != null) throw new IllegalStateException(s"$layer timed inside $inLayer")
    inLayer = layer
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(layer)(f)
      tracer.add(layer + "_s", (System.nanoTime() - t0) / 1e9)
      r
    } finally inLayer = null
  }

  private def get(s: Grid.ChunkSlice): Option[Array[Byte]] = {
    val blob = timed("chunkstore.get")(ctx.fetchChunk(fs, s))
    tracer.add("chunkstore.get_count", 1)
    tracer.add("chunkstore.get_bytes", blob.map(_.length).getOrElse(0).toDouble)
    blob
  }

  private def decode(s: Grid.ChunkSlice, blob: Array[Byte]): VoxelBuffer = {
    val b = timed("codec.decode")(ctx.decodeChunk(s, blob))
    tracer.add("codec.decode_out_bytes", b.bytes.length.toDouble)
    b
  }

  private def slices(box: Box): Seq[Grid.ChunkSlice] = {
    val ids = Grid.idRanges(box, ctx.chunkSize, ctx.voxelOffset)
    for {
      cz <- ids.loz to ids.hiz; cy <- ids.loy to ids.hiy; cx <- ids.lox to ids.hix
      s <- ctx.sliceAt(cx, cy, cz, box)
    } yield s
  }

  /** Replay a cutout: GET, decode, slice and blit each chunk of `box`.
    * Returns the assembled buffer and the number of chunks replayed. */
  def cutout(box: Box): (VoxelBuffer, Long) = {
    val out = VoxelBuffer.zeros(ctx.dataType, box.x.len, box.y.len, box.z.len, 1,
      (box.x.lo, box.y.lo, box.z.lo))
    val ss = slices(box)
    ss.foreach { s =>
      get(s).foreach { blob =>
        val chunk = decode(s, blob)
        val piece = timed("voxelbuffer.slice")(chunk.slice(s.cutoutBox))
        timed("voxelbuffer.blit")(out.blit(piece, piece.box))
      }
    }
    (out, ss.length.toLong)
  }

  /** Replay an ingest of `buf` into the store at `scratchRoot` (same grid):
    * full chunks are sliced, partial ones read, decoded and merged, then
    * every chunk is encoded and PUT. Returns the number of chunks replayed. */
  def ingest(buf: VoxelBuffer, scratchRoot: String): Long = {
    val ss = slices(buf.box)
    ss.foreach { s =>
      val cb = s.chunkBox
      val covered = cb.intersect(buf.box)
      val chunk =
        if (covered == cb) timed("voxelbuffer.slice")(buf.slice(cb))
        else {
          val merged = get(s).map(decode(s, _)).getOrElse(
            VoxelBuffer.zeros(ctx.dataType, cb.x.len, cb.y.len, cb.z.len, 1, (cb.x.lo, cb.y.lo, cb.z.lo)))
          timed("voxelbuffer.blit")(merged.blit(buf, covered))
          merged
        }
      val blob = timed("codec.encode")(ctx.encodeChunk(chunk))
      tracer.add("codec.encode_in_bytes", chunk.bytes.length.toDouble)
      timed("chunkstore.put")(ChunkStore.write(fs, scratchRoot, ctx.keyOf(s), blob))
      tracer.add("chunkstore.put_count", 1)
      tracer.add("chunkstore.put_bytes", blob.length.toDouble)
    }
    ss.length.toLong
  }
}

/** `array_read`: small unaligned cutouts (per-call overhead), 256³ and
  * full-volume cutouts (per-byte cost), and box-filtered voxel aggregates
  * through both voxel read paths, over a seeded gzip fixture. */
final class ArrayRead(spark: SparkSession, seed: Long, work: Path, traceRun: Boolean) extends Workload {
  import ArrayGeometry._
  import Workload._

  /** Small cutouts per round (with one 256³ cutout, a full-volume cutout
    * every round and four 80³ voxel aggregates, two per read path).
    * A measured run makes at least 100 of them so their p90 keeps ten
    * samples beyond it; each of a traced run's three segments makes 40 (a
    * p75). */
  val SmallPerRound = 25
  val VoxelSide = 80
  val MinSmall: Int = if (traceRun) 40 else 100

  private lazy val model: VoxelBuffer = new Field(seed, Shape).buffer(Full)
  private var vol: Volume = _
  private var setups = 0

  def setup(): Double = {
    model // generated untimed: it is the benchmark's input, not the program's work
    if (vol != null) deleteTree(new java.io.File(vol.root))
    setups += 1
    val root = work.resolve(s"read-$setups").toString
    val t0 = System.nanoTime()
    vol = Volume.create(spark, root, VolMeta)
    vol.ingest(model)
    (System.nanoTime() - t0) / 1e9
  }

  /** One round of requests in seeded order. */
  private def round(rng: SplittableRandom): Seq[(String, Box)] = {
    val small = Seq.fill(SmallPerRound) {
      randomBox(rng, 32 + rng.nextInt(33), 32 + rng.nextInt(33), 32 + rng.nextInt(33))
    }.map("cutout_small" -> _)
    // unaligned in x and y; full depth
    val x0 = 1 + 64 * rng.nextInt(4) + 1 + rng.nextInt(63)
    val y0 = 1 + 64 * rng.nextInt(4) + 1 + rng.nextInt(63)
    val large = Seq("cutout_large" -> Box(x0, x0 + 255, y0, y0 + 255, 1, 256), "cutout_large" -> Full)
    // one size for every voxel aggregate, so the scan rate does not move
    // with the seed's box sizes
    def vbox() = randomBox(rng, VoxelSide, VoxelSide, VoxelSide)
    val voxel = Seq.fill(2)(Seq("voxel_scan" -> vbox(), "voxel_view" -> vbox())).flatten
    shuffle(rng, small ++ large ++ voxel)
  }

  private var firstRound: Seq[(String, Box)] = Nil

  def segment(rec: Recorder, seconds: Double, warmup: Boolean): Map[String, Any] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    if (warmup) {
      rec.warmup = true
      round(rng).foreach { case (kind, box) => request(rec, kind, box) }
      rec.warmup = false
    }
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var r = 1
    var small = 0
    while ((elapsed < seconds || small < MinSmall) && elapsed < seconds * 4) {
      val reqs = round(rng)
      if (r == 1) firstRound = reqs
      reqs.foreach { case (kind, box) =>
        if (kind == "cutout_small") small += 1
        request(rec, kind, box)
      }
      r += 1
    }
    Map.empty
  }

  private def request(rec: Recorder, kind: String, box: Box): Unit = {
    rec.tracer.add("volume.chunks_touched", vol.numChunks(box).toDouble)
    kind match {
      case "cutout_small" | "cutout_large" =>
        rec.run(kind, "volume.cutout", bytes = box.numVoxels, voxels = box.numVoxels)(
          vol.cutout(box))(cut => sameBytes(cut, model.slice(box)))
      case "voxel_scan" =>
        val expected = modelAggregate(model, box)
        rec.run(kind, "volume.voxels", voxels = box.numVoxels,
            extra = Map("chunks" -> vol.numChunks(box))) {
          voxelAggregate(vol.voxels().filter(
            col("x").between(box.x.lo, box.x.hi) && col("y").between(box.y.lo, box.y.hi) &&
              col("z").between(box.z.lo, box.z.hi)))
        } { got =>
          // the scan must fetch exactly the chunks of the query box
          val parity = !rec.tracer.isAttached || rec.tracer.lastScanChunks == vol.numChunks(box)
          if (!parity) Main.log(s"voxelscan fetched ${rec.tracer.lastScanChunks} chunks, box has ${vol.numChunks(box)}")
          got == expected && parity
        }
      case "voxel_view" =>
        val expected = modelAggregate(model, box)
        rec.run(kind, "volume.toVoxels", voxels = box.numVoxels)(
          voxelAggregate(vol.toVoxels(box)))(_ == expected)
    }
  }

  override def replay(rec: Recorder): Unit = {
    val rp = new Replay(rec.tracer, vol)
    firstRound.filter(_._1.startsWith("cutout")).foreach { case (_, box) =>
      rec.run("replay", "replay.cutout", bytes = box.numVoxels) {
        rp.cutout(box)
      } { case (buf, n) =>
        // replay parity: the chunk count the replay visited is Volume.numChunks
        n == vol.numChunks(box) && sameBytes(buf, model.slice(box))
      }
    }
  }

  override def cleanup(): Unit = if (vol != null) deleteTree(new java.io.File(vol.root))
}

/** `array_write`: chunk-aligned full-chunk ingests, aligned-start partial
  * ingests (read-merge-rewrite of edge chunks), a `fromVoxels` bulk load
  * through a shuffle and a `rechunk`, into an initially empty volume. The
  * benchmark keeps the expected store content in memory and reads the
  * store back (untimed) to check it. */
final class ArrayWrite(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import ArrayGeometry._
  import Workload._

  val RechunkTo: (Int, Int, Int) = (128, 128, 32)
  /** Unmeasured rounds first: the write path keeps speeding up for about
    * two rounds as the JVM warms. */
  val WarmupRounds = 2

  private var vol: Volume = _
  private var setups = 0
  private var rechunks = 0
  /** The content the store must hold: zeros until written (fill_missing). */
  private val expected = VoxelBuffer.zeros(Meta.TUInt8, Shape._1, Shape._2, Shape._3, 1, (1, 1, 1))
  private var firstRound: Seq[(String, Box)] = Nil

  def setup(): Double = {
    if (vol != null) deleteTree(new java.io.File(vol.root))
    setups += 1
    val root = work.resolve(s"write-$setups").toString
    val t0 = System.nanoTime()
    vol = Volume.create(spark, root, VolMeta)
    (System.nanoTime() - t0) / 1e9
  }

  private def round(rng: SplittableRandom): Seq[(String, Box)] = {
    def aligned(sx: Int, sy: Int, sz: Int): Box = {
      val x0 = alignedStart(rng, Shape._1, sx, Chunk._1)
      val y0 = alignedStart(rng, Shape._2, sy, Chunk._2)
      val z0 = alignedStart(rng, Shape._3, sz, Chunk._3)
      Box(x0, x0 + sx - 1, y0, y0 + sy - 1, z0, z0 + sz - 1)
    }
    val full = Seq.fill(2)("ingest_full" -> aligned(256, 256, 256))
    val partial = Seq.fill(4)("ingest_rmw" -> aligned(96 + rng.nextInt(9), 96 + rng.nextInt(9), 96 + rng.nextInt(9)))
    val bulk = Seq("from_voxels" -> aligned(64, 64, 128))
    val rx = alignedStart(rng, Shape._1, 256, RechunkTo._1)
    val ry = alignedStart(rng, Shape._2, 256, RechunkTo._2)
    val rz = alignedStart(rng, Shape._3, 128, 128)
    val rechunk = Seq("rechunk" -> Box(rx, rx + 255, ry, ry + 255, rz, rz + 127))
    shuffle(rng, full ++ partial ++ bulk ++ rechunk)
  }

  def segment(rec: Recorder, seconds: Double, warmup: Boolean): Map[String, Any] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 2)
    if (warmup) {
      rec.warmup = true
      (1 to WarmupRounds).foreach(_ => round(rng).foreach { case (kind, box) => request(rec, kind, box, rng.nextInt()) })
      rec.warmup = false
    }
    val t0 = System.nanoTime()
    firstRound = Nil
    while (firstRound.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val reqs = round(rng)
      if (firstRound.isEmpty) firstRound = reqs
      reqs.foreach { case (kind, box) => request(rec, kind, box, rng.nextInt()) }
    }
    rec.check("readback")(sameBytes(vol.cutout(Full), expected))
    val (stored, raw) = storedBytes(vol.root, vol.ctx.scaleKey)
    Map("stored_bytes" -> stored, "stored_raw_bytes" -> raw)
  }

  private def request(rec: Recorder, kind: String, box: Box, salt: Int): Unit = {
    rec.tracer.add("volume.chunks_touched", vol.numChunks(box).toDouble)
    kind match {
      case "ingest_full" | "ingest_rmw" =>
        val buf = new Field(salt.toLong, Shape).buffer(box)
        rec.run(kind, "volume.ingest", bytes = box.numVoxels, voxels = box.numVoxels)(
          vol.ingest(buf))(_ => true)
        expected.blit(buf, box)
      case "from_voxels" =>
        val (sx, sy) = (box.x.len.toLong, box.y.len.toLong)
        val value = pmod(col("x") * 7 + col("y") * 13 + col("z") * 29 + lit(salt & 0xffff), lit(251))
        val slab = spark.range(0L, box.numVoxels).select(
          (lit(box.x.lo) + (col("id") % sx)).cast("int").as("x"),
          (lit(box.y.lo) + ((col("id") / sx).cast("long") % sy)).cast("int").as("y"),
          (lit(box.z.lo) + (col("id") / (sx * sy)).cast("long")).cast("int").as("z"))
          .select(col("x"), col("y"), col("z"), value.cast("short").as("value"))
        rec.run(kind, "volume.fromVoxels", bytes = box.numVoxels, voxels = box.numVoxels)(
          vol.fromVoxels(slab))(_ == vol.numChunks(box))
        val model = VoxelBuffer.zeros(Meta.TUInt8, box.x.len, box.y.len, box.z.len, 1,
          (box.x.lo, box.y.lo, box.z.lo))
        for (z <- box.z.lo to box.z.hi; y <- box.y.lo to box.y.hi; x <- box.x.lo to box.x.hi)
          model.setLong(x - box.x.lo, y - box.y.lo, z - box.z.lo, 0,
            Math.floorMod(x * 7 + y * 13 + z * 29 + (salt & 0xffff), 251))
        expected.blit(model, box)
      case "rechunk" =>
        rechunks += 1
        val dest = work.resolve(s"rechunk-$rechunks").toString
        rec.run(kind, "volume.rechunk", bytes = box.numVoxels, voxels = box.numVoxels)(
          VolumeOps.rechunk(vol, box, dest, RechunkTo)) { _ =>
          val back = Volume.open(spark, dest).cutout(box)
          sameBytes(back, expected.slice(box))
        }
        deleteTree(new java.io.File(dest))
    }
  }

  override def replay(rec: Recorder): Unit = {
    val rp = new Replay(rec.tracer, vol)
    val scratch = work.resolve("replay-store").toString
    firstRound.filter(_._1.startsWith("ingest")).foreach { case (_, box) =>
      val buf = new Field(seed, Shape).buffer(box)
      rec.run("replay", "replay.ingest", bytes = box.numVoxels)(rp.ingest(buf, scratch))(
        _ == vol.numChunks(box))
    }
    deleteTree(new java.io.File(scratch))
  }

  override def cleanup(): Unit = if (vol != null) deleteTree(new java.io.File(vol.root))
}
