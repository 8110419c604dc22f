package graft.volume

import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Codec, Grid, Meta}
import graft.core.Grid.{Box, ChunkSlice, Ival}
import graft.core.Meta.{ScaleMeta, VolumeMeta, VoxelType}
import graft.sources.PrecomputedScan

/** Everything an executor needs to plan/fetch/decode chunks for one mip level
  * — a serializable projection of the volume handle (the reference's
  * `BigArray` struct fields, src/type.jl:7-13). */
final case class VolumeCtx(
    root: String,
    scaleKey: String,
    chunkSize: (Int, Int, Int),
    voxelOffset: (Int, Int, Int),
    volumeBox: Box,
    dataType: VoxelType,
    numChannels: Int,
    encoding: String,
    fillMissing: Boolean,
    /** Chunk-object naming: "precomputed" = coordinate-range keys
      * ("x0-x1_y0-y1_z0-z1"); "zarr-c"/"zarr-f" = dot-separated 0-based
      * grid indices in zarr dim order (C: d0.d1.d2 = z.y.x; F: x.y.z);
      * "zarr3-c"/"zarr3-c2" = zarr v3 default chunk-key encoding
      * ("c/" prefix, "/"-separated indices in dim order);
      * "n5" = nested 0-based grid paths "x/y/z" with per-block
      * header+big-endian framing (see [[graft.core.N5Block]]);
      * "tiff-z" = one grayscale TIFF image per z slice, zero-padded
      * "NNNN.tif" names (chunkSize is the full XY plane x 1). */
    keyStyle: String = "precomputed",
    /** Edge-chunk storage: precomputed clamps boundary chunks to the volume
      * (partial blobs); zarr v2 stores every chunk FULL-SIZE with padding
      * past the array edge. When true, chunk boxes stay unclamped (decode/
      * encode the full chunk) and only the cutout is volume-clamped. */
    padEdgeChunks: Boolean = false,
    /** Zarr v3 `sharding_indexed` container: when set, `chunkSize` is the
      * INNER chunk shape (the engine's addressable unit — grid math,
      * cutouts, scans, missing-chunk probes all stay inner-chunk-grain) and
      * the storage object is the SHARD holding a `gx×gy×gz` grid of inner
      * chunks behind an offset index. Reads are index + ranged GET
      * ([[graft.core.Shard]]); writes group inner chunks per shard. */
    shard: Option[graft.core.Shard.Params] = None,
    /** MRC2014 single-file volume (keyStyle "mrc-z"): the whole dataset is
      * ONE object whose z-planes are contiguous byte ranges — chunkSize is
      * the full XY plane × 1 and every fetch is a COMPUTED ranged GET
      * (offset = dataOffset + plane·planeBytes); no per-chunk objects, no
      * index, nothing ever missing inside the volume box. Read-only
      * through the chunk engine (a dense container has no chunk-grain
      * write); [[graft.sources.Mrc.write]] is the export path. */
    mrc: Option[graft.core.MrcFormat.Params] = None) {

  def codec: Codec.ChunkCodec = Codec.forEncoding(encoding, dataType.byteSize)

  /** Key of a chunk within the scale (no scale prefix). */
  def relKey(slice: ChunkSlice): String = keyStyle match {
    case "precomputed" => slice.key
    case "zarr-c" => s"${slice.idz - 1}.${slice.idy - 1}.${slice.idx - 1}"
    case "zarr-f" => s"${slice.idx - 1}.${slice.idy - 1}.${slice.idz - 1}"
    case "zarr-c2" => s"${slice.idy - 1}.${slice.idx - 1}" // 2-d C: keys are d0.d1 = y.x
    case "zarr-f2" => s"${slice.idx - 1}.${slice.idy - 1}"
    case "zarr3-c" => s"c/${slice.idz - 1}/${slice.idy - 1}/${slice.idx - 1}" // v3 default encoding
    case "zarr3-c2" => s"c/${slice.idy - 1}/${slice.idx - 1}"
    // transposed v3: keys stay in ORIGINAL dim order; engine (x, y, z) sit
    // at original dims (order(2), order(1), order(0)) per the transpose
    // codec's permutation carried in the style suffix
    case s if s.startsWith("zarr3-p:") =>
      val o = s.drop(8)
      val idxAt = Array.fill(3)(0)
      idxAt(o(2) - '0') = slice.idx - 1
      idxAt(o(1) - '0') = slice.idy - 1
      idxAt(o(0) - '0') = slice.idz - 1
      s"c/${idxAt(0)}/${idxAt(1)}/${idxAt(2)}"
    // sharded: the LOGICAL inner-chunk key (messages, missing listings);
    // storage addressing goes through shardKeyOf + the shard index
    case "zarr3-shard" => s"c/${slice.idz - 1}/${slice.idy - 1}/${slice.idx - 1}"
    case "n5" => s"${slice.idx - 1}/${slice.idy - 1}/${slice.idz - 1}" // nested grid path, dim order d0/d1/d2
    // TIFF stack: one full-XY-plane image object per z slice, zero-padded
    // slice numbering (the microscopy image-sequence layout; chunkSize is
    // (W, H, 1) by construction so idz-1 IS the slice index)
    case "tiff-z" => f"${slice.idz - 1}%04d.tif"
    // mrc: every chunk lives in the ONE container object (addressing is
    // the computed byte range in fetchChunk, not the key)
    case "mrc-z" => mrc.get.fileName
    case other => throw new IllegalArgumentException(s"unknown key style: $other")
  }

  def keyOf(slice: ChunkSlice): String =
    if (scaleKey.isEmpty) relKey(slice) else s"$scaleKey/${relKey(slice)}"

  /** Shard-grid coords of an inner chunk (sharded stores only). */
  def shardCoords(cx: Int, cy: Int, cz: Int): (Int, Int, Int) = {
    val p = shard.get
    (Math.floorDiv(cx - 1, p.gx), Math.floorDiv(cy - 1, p.gy), Math.floorDiv(cz - 1, p.gz))
  }

  /** Storage key of the shard OBJECT at shard-grid coords — the ONE place
    * that encodes the sharded key layout (readers and writers both come
    * through here). */
  def shardKeyAt(sx: Int, sy: Int, sz: Int): String = {
    val rel = s"c/$sz/$sy/$sx"
    if (scaleKey.isEmpty) rel else s"$scaleKey/$rel"
  }

  /** Storage key of the shard OBJECT holding an inner chunk. */
  def shardKeyOf(slice: ChunkSlice): String = {
    val (sx, sy, sz) = shardCoords(slice.idx, slice.idy, slice.idz)
    shardKeyAt(sx, sy, sz)
  }

  /** Read-modify-write of the shard object at shard-grid coords: `update`
    * maps its existing inner blobs (by linear cell) to the cells to
    * replace; the others are kept. Drops the shard's cached index. */
  def rewriteShard(fs: org.apache.hadoop.fs.FileSystem, sx: Int, sy: Int, sz: Int)(
      update: Map[Int, Array[Byte]] => Map[Int, Array[Byte]]): Unit = {
    val p = shard.get; val key = shardKeyAt(sx, sy, sz)
    val existing = ChunkStore.readOpt(fs, root, key)
      .map(graft.core.Shard.parseAll(p, _)).getOrElse(Map.empty[Int, Array[Byte]])
    ChunkStore.write(fs, root, key, graft.core.Shard.build(p, existing ++ update(existing)))
    graft.core.Shard.invalidate(root, key)
  }

  /** Cell coords of an inner chunk within its shard. */
  def innerCoords(slice: ChunkSlice): (Int, Int, Int) = {
    val p = shard.get
    (Math.floorMod(slice.idx - 1, p.gx), Math.floorMod(slice.idy - 1, p.gy),
      Math.floorMod(slice.idz - 1, p.gz))
  }

  /** Stored blob of a chunk: direct object read for per-chunk layouts,
    * index lookup + ranged GET for sharded stores. */
  def fetchChunk(fs: org.apache.hadoop.fs.FileSystem, slice: ChunkSlice): Option[Array[Byte]] =
    mrc match {
      case Some(p) =>
        // dense container: one COMPUTED ranged GET per full-XY-plane chunk
        // (chunkSize is (nx, ny, 1) by construction, so idz-1 is the
        // 0-based plane and the range is exactly planeBytes long)
        val planeBytes = chunkSize._1.toLong * chunkSize._2 * dataType.byteSize * numChannels
        val off = p.dataOffset + (slice.idz - 1) * planeBytes
        Some(ChunkStore.readRange(fs, root, p.fileName, off, planeBytes.toInt))
      case None => shard match {
        case None => ChunkStore.readOpt(fs, root, keyOf(slice))
        case Some(p) =>
          val (wx, wy, wz) = innerCoords(slice)
          graft.core.Shard.readInner(fs, root, shardKeyOf(slice), p, wx, wy, wz)
      }
    }

  /** Existence of a chunk without fetching its bytes: one suffix-resolved
    * probe for per-chunk layouts; a (cached) index lookup for sharded. */
  def chunkExists(fs: org.apache.hadoop.fs.FileSystem,
      prober: ChunkStore.SuffixProber, slice: ChunkSlice): Boolean =
    if (mrc.isDefined) true // dense container: every in-volume plane exists
    else shard match {
      case None => prober.resolve(keyOf(slice)).isDefined
      case Some(p) =>
        graft.core.Shard.cachedIndex(fs, root, shardKeyOf(slice), p).exists { idx =>
          val (wx, wy, wz) = innerCoords(slice)
          idx(p.linear(wx, wy, wz) * 2) != graft.core.Shard.Missing
        }
    }

  /** Per-leading-coordinate bounded LIST globs for this key layout — the
    * sparse-store enumeration (see PrecomputedScan.listingGlobs for the
    * full rationale: one bounded prefix LIST per chunk column, fan-out
    * scaling with store width, O(objects) total). Precomputed keys shard
    * by the x0 ordinate; dotted zarr keys by their LEADING dim index
    * (z for C-order, x for F-order — whatever comes first in the key);
    * nested zarr3/n5 keys by their first variable path segment. */
  def listingGlobs(ids: Grid.IdRanges): Seq[String] = {
    val csx = chunkSize._1
    val ox = Grid.gridOffset(voxelOffset._1, csx)
    keyStyle match {
      // same formula as the DSv2 scan — delegate so the two planners can
      // never enumerate differently
      case "precomputed" => PrecomputedScan.listingGlobs(ids, csx, ox)
      case "zarr-c" => (ids.loz to ids.hiz).map(cz => s"${cz - 1}.*")
      case "zarr-c2" => (ids.loy to ids.hiy).map(cy => s"${cy - 1}.*")
      case "zarr-f" | "zarr-f2" => (ids.lox to ids.hix).map(cx => s"${cx - 1}.*")
      case "zarr3-c" => (ids.loz to ids.hiz).map(cz => s"c/${cz - 1}/*/*")
      case "zarr3-c2" => (ids.loy to ids.hiy).map(cy => s"c/${cy - 1}/*")
      // transposed v3: the leading key segment is original dim 0 — the
      // engine axis at order.indexOf(0) (x when it serializes fastest, etc.)
      case s if s.startsWith("zarr3-p:") =>
        val o = s.drop(8)
        if (o(2) == '0') (ids.lox to ids.hix).map(cx => s"c/${cx - 1}/*/*")
        else if (o(1) == '0') (ids.loy to ids.hiy).map(cy => s"c/${cy - 1}/*/*")
        else (ids.loz to ids.hiz).map(cz => s"c/${cz - 1}/*/*")
      case "n5" => (ids.lox to ids.hix).map(cx => s"${cx - 1}/*/*")
      // the stack is one FLAT directory of NNNN.tif objects: a single
      // directory-wide LIST enumerates the whole stack in one request —
      // per-z exact-name globs would pay one globStatus per slice, the
      // same request count as the probe plan listing mode exists to beat
      case "tiff-z" => Seq("*.tif")
      // sharded stores never list: the shard index IS the listing
      // (chunkExists costs one cached index GET per shard, not per cell)
      case other => throw new IllegalArgumentException(
        s"listing enumeration unsupported for key style: $other")
    }
  }

  /** Parse a LISTED relative key (scale prefix stripped, either stored
    * spelling — the `.gz` suffix convention is accepted like the read
    * path) back to 1-based grid coords; None for foreign objects
    * (`.zarray`, `attributes.json`, user files) so listings are robust to
    * non-chunk neighbors. Inverse of [[relKey]] per key style. */
  def parseRelKey(rel0: String): Option[(Int, Int, Int)] = {
    val rel = if (rel0.endsWith(".gz")) rel0.dropRight(3) else rel0
    def ints(parts: Array[String]): Option[Array[Int]] = {
      val parsed = parts.map(_.toIntOption)
      if (parsed.forall(_.isDefined)) Some(parsed.map(_.get)) else None
    }
    keyStyle match {
      case "precomputed" => Grid.parseKey(rel).map { b =>
        val (csx, csy, csz) = chunkSize
        (Grid.chunkIdOf(b.x.lo, csx, Grid.gridOffset(voxelOffset._1, csx)),
          Grid.chunkIdOf(b.y.lo, csy, Grid.gridOffset(voxelOffset._2, csy)),
          Grid.chunkIdOf(b.z.lo, csz, Grid.gridOffset(voxelOffset._3, csz)))
      }
      case "zarr-c" => ints(rel.split('.')).collect { case Array(z, y, x) => (x + 1, y + 1, z + 1) }
      case "zarr-f" => ints(rel.split('.')).collect { case Array(x, y, z) => (x + 1, y + 1, z + 1) }
      case "zarr-c2" => ints(rel.split('.')).collect { case Array(y, x) => (x + 1, y + 1, 1) }
      case "zarr-f2" => ints(rel.split('.')).collect { case Array(x, y) => (x + 1, y + 1, 1) }
      case "zarr3-c" => rel.split('/') match {
        case Array("c", z, y, x) => ints(Array(z, y, x)).map(a => (a(2) + 1, a(1) + 1, a(0) + 1))
        case _ => None
      }
      case s if s.startsWith("zarr3-p:") =>
        val o = s.drop(8)
        rel.split('/') match {
          case Array("c", i0, i1, i2) => ints(Array(i0, i1, i2)).map { a =>
            (a(o(2) - '0') + 1, a(o(1) - '0') + 1, a(o(0) - '0') + 1)
          }
          case _ => None
        }
      case "zarr3-c2" => rel.split('/') match {
        case Array("c", y, x) => ints(Array(y, x)).map(a => (a(1) + 1, a(0) + 1, 1))
        case _ => None
      }
      case "n5" => ints(rel.split('/')).collect { case Array(x, y, z) => (x + 1, y + 1, z + 1) }
      case "tiff-z" =>
        if (rel.endsWith(".tif")) rel.dropRight(4).toIntOption.map(z => (1, 1, z + 1)) else None
      case other => throw new IllegalArgumentException(
        s"listing enumeration unsupported for key style: $other")
    }
  }

  /** Chunk slice for grid coords. Precomputed style: volume-stop clamping
    * like adjust_volume_boundary (reference: src/type.jl:165-205); padded
    * style (zarr): the chunk box keeps its full extent, only the cutout is
    * clamped. */
  def sliceAt(cx: Int, cy: Int, cz: Int, query: Box): Option[ChunkSlice] = {
    val (csx, csy, csz) = chunkSize
    val (ox, oy, oz) = (Grid.gridOffset(voxelOffset._1, csx),
      Grid.gridOffset(voxelOffset._2, csy), Grid.gridOffset(voxelOffset._3, csz))
    val chunkBox = Box(Grid.chunkIval(cx, csx, ox), Grid.chunkIval(cy, csy, oy), Grid.chunkIval(cz, csz, oz))
    val cut = chunkBox.intersect(query)
    if (cut.intersect(volumeBox).isEmpty) None // out-of-volume skip (sequential.jl:33-37)
    else if (padEdgeChunks) Some(ChunkSlice(cx, cy, cz,
      chunkBox, Grid.clampHiTo(cut, volumeBox)))
    else Some(ChunkSlice(cx, cy, cz,
      Grid.clampHiTo(chunkBox, volumeBox), Grid.clampHiTo(cut, volumeBox)))
  }

  /** The chunk-id ranges of the cells a box touches inside the volume,
    * empty when it misses the volume. Clipping first keeps the id count
    * exact for a box far larger than the volume. */
  private[graft] def cellRanges(query: Box): Grid.IdRanges = {
    val q = query.intersect(volumeBox)
    if (q.isEmpty) Grid.IdRanges(1, 0, 1, 0, 1, 0) else Grid.idRanges(q, chunkSize, voxelOffset)
  }

  /** Decode a blob into a buffer anchored at the (clamped) chunk box.
    * Boundary chunks are stored partial — shape comes from the clamped box
    * (reference: src/modes/sequential.jl:43-48). */
  def decodeChunk(slice: ChunkSlice, blob: Array[Byte]): VoxelBuffer = {
    val b = slice.chunkBox
    // a length past the array limit fails the buffer's shape check anyway
    val rawLen = math.min(b.numVoxels * numChannels * dataType.byteSize, Int.MaxValue - 64L).toInt
    val raw = keyStyle match {
      case "n5" => // raw header carries the clipped block dims; payload is big-endian
        val (dims, payload) = graft.core.N5Block.strip(blob)
        require(dims == ((b.x.len, b.y.len, b.z.len)),
          s"n5: block ${relKey(slice)} header dims $dims != chunk box (${b.x.len},${b.y.len},${b.z.len})")
        graft.core.N5Block.swapEndian(codec.decode(payload, rawLen), dataType.byteSize)
      case "tiff-z" =>
        // a REAL image container per slice: TIFF rows are top-down
        // row-major — exactly this engine's x-fastest-then-y layout for a
        // single z plane, so no pixel shuffling, only the typed view
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(blob))
        require(img != null, s"tiff: slice ${relKey(slice)} is not a decodable image")
        require(img.getWidth == b.x.len && img.getHeight == b.y.len,
          s"tiff: slice ${relKey(slice)} is ${img.getWidth}x${img.getHeight}, " +
            s"chunk box wants ${b.x.len}x${b.y.len}")
        dataType.byteSize match {
          case 1 =>
            val out = new Array[Byte](b.x.len * b.y.len)
            img.getRaster.getDataElements(0, 0, b.x.len, b.y.len, out)
            out
          case 2 =>
            val px = new Array[Short](b.x.len * b.y.len)
            img.getRaster.getDataElements(0, 0, b.x.len, b.y.len, px)
            val bb = java.nio.ByteBuffer.allocate(px.length * 2)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.asShortBuffer().put(px) // bulk copy — no per-voxel boxing
            bb.array()
          case n => throw new IllegalArgumentException(
            s"tiff: ${n * 8}-bit voxels unsupported (8/16-bit grayscale only)")
        }
      case _ => codec.decode(blob, rawLen)
    }
    new VoxelBuffer(dataType, b.x.len, b.y.len, b.z.len, numChannels,
      (b.x.lo, b.y.lo, b.z.lo), raw)
  }

  /** Fetch and decode a chunk. An absent chunk is None when the handle
    * zero-fills (reference: src/modes/sequential.jl:52-54) and raises
    * [[ChunkStore.MissingChunkException]] otherwise. */
  def readChunk(fs: org.apache.hadoop.fs.FileSystem, slice: ChunkSlice): Option[VoxelBuffer] =
    fetchChunk(fs, slice) match {
      case Some(blob) => Some(decodeChunk(slice, blob))
      case None if fillMissing => None
      case None => throw new ChunkStore.MissingChunkException(keyOf(slice))
    }

  def encodeChunk(buf: VoxelBuffer): Array[Byte] = keyStyle match {
    case "mrc-z" => throw new UnsupportedOperationException(
      "mrc: read-only through the chunk engine (a dense single-file container " +
        "has no chunk-grain write) — export with graft.sources.Mrc.write")
    case "n5" =>
      graft.core.N5Block.header(buf.sx, buf.sy, buf.sz) ++
        codec.encode(graft.core.N5Block.swapEndian(buf.bytes, dataType.byteSize))
    case "tiff-z" =>
      require(buf.sz == 1, s"tiff: a slice chunk must have depth 1, got ${buf.sz}")
      val img = dataType.byteSize match {
        case 1 =>
          val i = new java.awt.image.BufferedImage(buf.sx, buf.sy,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          i.getRaster.setDataElements(0, 0, buf.sx, buf.sy, buf.bytes)
          i
        case 2 =>
          val bb = java.nio.ByteBuffer.wrap(buf.bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val px = new Array[Short](buf.sx * buf.sy)
          var j = 0
          while (j < px.length) { px(j) = bb.getShort(); j += 1 }
          val i = new java.awt.image.BufferedImage(buf.sx, buf.sy,
            java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
          i.getRaster.setDataElements(0, 0, buf.sx, buf.sy, px)
          i
        case n => throw new IllegalArgumentException(
          s"tiff: ${n * 8}-bit voxels unsupported (8/16-bit grayscale only)")
      }
      val bos = new java.io.ByteArrayOutputStream()
      // write() returns false (no exception) when no TIFF writer is
      // registered — that must fail HERE, not as zero-byte store objects
      // discovered by a later read
      require(javax.imageio.ImageIO.write(img, "tif", bos),
        "tiff: no ImageIO TIFF writer registered in this runtime")
      bos.toByteArray
    case _ => codec.encode(buf.bytes)
  }
}

/** A handle on one chunked N-d array dataset — the engine's `BigArray`
  * (reference: src/type.jl). `cutout` reads in the calling process; writes
  * and the DataFrame operators are Spark jobs over the chunk grid; the
  * voxel view (`toVoxels`) is the bridge to the relational surface.
  *
  * Scale design notes (100 TB target):
  *  - chunk task sets are ranges of the linear ids of the cells a box
  *    touches inside the volume (`VolumeCtx.cellRanges`, decoded by
  *    `Grid.IdRanges.coords`) — no driver-side chunk enumeration, so a
  *    petavoxel cutout plans in O(1) driver memory, and a box far larger
  *    than the volume costs no more than the volume. The voxel view
  *    (`toVoxels`, `voxels()`) is one Catalyst leaf, `VoxelScan`, whose
  *    physical scan writes columnar batches and whose statistics are the
  *    box's row count, so a join never broadcasts a petavoxel scan. The
  *    other per-chunk DataFrame operators (`zipVoxels`, `chunkStats`,
  *    `toVoxelsAtLeast`, `missingChunks` and the `local*` halo kernels)
  *    run on one combinator, `chunkRows`, over `spark.range`; `ingest`
  *    and `VolumeOps.rechunk` run on `chunkCells`, over
  *    `sparkContext.range`. Each opens the store once per task
  *    (`storeFs`, or the scan's broadcast conf) and fetches with the
  *    handle's fill semantics;
  *  - range filters over the voxel view fold into the scan's box and leave
  *    the plan (`PushBoxFilters`), so a voxel query over a new box reads
  *    only the chunks it touches and compiles no new code;
  *  - `cutout` materializes on the driver (API parity with the reference's
  *    `ba[ranges...]`), so it runs there too, with no Spark job: a few
  *    in-process workers (`Volume.forEachChunk`, at most the default
  *    parallelism or the driver's processors, whichever is fewer) fetch,
  *    decode and blit chunks straight into the output, like the
  *    reference's `:multithreads` read. It is guarded by a size cap —
  *    large reads should stay distributed via `toVoxels`;
  *  - `ingest` and `rechunk` are each one plain RDD job (no Catalyst
  *    planning, no encoder round-trip, no shuffle), so a small call costs
  *    little more than its chunk I/O and codec work: a large write's
  *    encode is spread over the executors;
  *  - `fromVoxels` is one plain RDD job too, run under one SQL execution of
  *    its input plan: map tasks fold voxel rows into partial chunks with
  *    Spark's spilling combiner, and the only shuffle in the write path
  *    moves those partials, not a row per voxel, to the task that merges,
  *    encodes and writes each chunk object.
  *
  * Store conf: a handle snapshots its Hadoop store conf — connector settings
  * and the `graft.store.retry.*` policy included — at its first chunk job
  * or cutout (for the DataFrame operators: when the first such DataFrame
  * is built), and broadcasts it once; `cutout` and the voxel view's scans
  * read with the same broadcast. Later jobs ship only the broadcast
  * reference, so no task re-parses the conf. A conf change made after that is seen by a
  * newly opened handle, not by this one.
  */
final class Volume(
    @transient val spark: SparkSession,
    val root: String,
    val meta: VolumeMeta,
    val mip: Int = 1,
    val fillMissing: Boolean = true,
    val keyStyle: String = "precomputed",
    val padEdgeChunks: Boolean = false,
    val shard: Option[graft.core.Shard.Params] = None,
    val mrc: Option[graft.core.MrcFormat.Params] = None) extends Serializable {
  import Volume.{CutBox, Step, arrayOf, coordType, field, ints, longs}

  val scaleMeta: ScaleMeta = meta.scale(mip)

  val ctx: VolumeCtx = VolumeCtx(root, scaleMeta.key, scaleMeta.chunkSize,
    scaleMeta.voxelOffset, scaleMeta.volumeBox, meta.dataType, meta.numChannels,
    scaleMeta.encoding, fillMissing, keyStyle, padEdgeChunks, shard, mrc)

  /** The store conf every chunk task and cutout of this handle reads,
    * broadcast once at the handle's first use (see the class notes).
    * Closures capture it through a local `val`, never through `this`. */
  @transient private[graft] lazy val confBc: Broadcast[ChunkStore.SerializableConf] =
    spark.sparkContext.broadcast(new ChunkStore.SerializableConf(
      ChunkStore.storeConf(spark.sessionState.newHadoopConf(), root, ctx.codec.name)))

  /** Number of chunks a box touches — counts grid cells in the bounding id
    * box, like the reference (src/type.jl:285-292). Pure math, no I/O. */
  def numChunks(query: Box): Long =
    if (query.isEmpty) 0L
    else Grid.idRanges(query, ctx.chunkSize, ctx.voxelOffset).total

  /** Opens this handle's store FileSystem from [[confBc]] — what a chunk
    * task calls once per partition. Closures capture the returned function,
    * never the handle. */
  private[graft] def storeFs: () => FileSystem = {
    val r = root; val conf = confBc
    () => ChunkStore.fs(r, conf.value.conf)
  }

  /** The grid cells a box touches inside the volume as an RDD of chunk
    * coords (with `perShard`: of the shards holding them) — the task source
    * of `ingest` and `VolumeOps.rechunk`. Ids come from
    * `sparkContext.range` in [[Volume.taskPartitions]] partitions, so
    * nothing is enumerated on the driver; None (no job) when the box misses
    * the volume. */
  private[graft] def chunkCells(query: Box, perShard: Boolean = false): Option[RDD[(Int, Int, Int)]] = {
    val cells = ctx.cellRanges(query)
    if (cells.total == 0) return None
    val ids = if (!perShard) cells else {
      val (lx, ly, lz) = ctx.shardCoords(cells.lox, cells.loy, cells.loz)
      val (hx, hy, hz) = ctx.shardCoords(cells.hix, cells.hiy, cells.hiz)
      Grid.IdRanges(lx, hx, ly, hy, lz, hz)
    }
    val sc = spark.sparkContext
    Some(sc.range(0L, ids.total, 1, Volume.taskPartitions(ids.total, sc)).map(ids.coords))
  }

  /** The one chunk-task path of every per-chunk DataFrame operator — the
    * reference's ChunkIterator (src/ChunkIterators.jl:9-42) as a DataFrame.
    * Tasks are the linear ids of the cells `query` touches inside the
    * volume, on `spark.range` in [[Volume.taskPartitions]] partitions, so an
    * operator's plan stays Range-sized and nothing is enumerated on the
    * driver; with `cells`, only the ids of that table's `(cx, cy, cz)` rows
    * among those cells. `kernel` gets the store FileSystem once per
    * partition and returns the rows of each chunk slice, which it reads
    * through [[VolumeCtx.readChunk]]. */
  private def chunkRows(query: Box, schema: StructType, cells: Option[DataFrame] = None)(
      kernel: FileSystem => ChunkSlice => Iterator[Row]): DataFrame = {
    val c = ctx; val openFs = storeFs
    val r = c.cellRanges(query)
    val range = spark.range(0L, r.total, 1L, Volume.taskPartitions(r.total, spark.sparkContext))
    // listed cells join the range BROADCAST, so they keep its partitions: a
    // one-file table would otherwise put every chunk in one task
    val ids = cells.fold(range)(t => range.join(broadcast(t
      .filter(col("cx").between(r.lox, r.hix) && col("cy").between(r.loy, r.hiy) &&
        col("cz").between(r.loz, r.hiz))
      .select((col("cx") - r.lox + (col("cy") - r.loy + (col("cz") - r.loz) * r.ny) * r.nx)
        .cast(LongType).as("id"))), "id").as(Encoders.LONG))
    ids.mapPartitions((it: Iterator[java.lang.Long]) => {
      val chunk = kernel(openFs())
      it.flatMap { id =>
        val (cx, cy, cz) = r.coords(id)
        c.sliceAt(cx, cy, cz, query).iterator.flatMap(chunk)
      }
    })(Encoders.row(schema))
  }

  /** N-d range read: the reference's `ba[x0:x1, y0:y1, z0:z1]`
    * (reference: src/type.jl:212-223). Returns a zero-initialized buffer
    * anchored at the query origin; out-of-volume / missing chunks stay zero.
    * Driver-side materialization is capped — use `toVoxels` for big boxes.
    *
    * Runs in the calling process, like the reference's `:multithreads`
    * read (src/modes/multithreads.jl:66-123): [[Volume.chunkWorkers]]
    * workers, the calling thread among them, share the linear ids of the
    * chunks the box touches inside the volume, and each fetches, decodes
    * and blits its chunks straight into the output (chunks write disjoint
    * bytes). All read through one FileSystem opened from [[confBc]], with
    * the handle's fill and retry semantics. No Spark job runs; the first
    * failure stops the other workers and is rethrown as the store raised
    * it. */
  def cutout(query: Box, maxBytes: Long = Int.MaxValue - 64L): VoxelBuffer = {
    if (query.isEmpty)
      return VoxelBuffer.zeros(meta.dataType, 0, 0, 0, meta.numChannels,
        (query.x.lo, query.y.lo, query.z.lo))
    val bytesNeeded = query.numVoxels * meta.numChannels * meta.dataType.byteSize
    require(bytesNeeded <= maxBytes,
      s"cutout of $bytesNeeded bytes exceeds cap $maxBytes; use toVoxels for distributed processing")
    val out = VoxelBuffer.zeros(meta.dataType, query.x.len, query.y.len, query.z.len,
      meta.numChannels, (query.x.lo, query.y.lo, query.z.lo))
    val cells = ctx.cellRanges(query)
    if (cells.total > 0) {
      val fs = storeFs()
      val scope = graft.core.Shard.driverScope()
      try Volume.forEachChunk(cells.total, spark.sparkContext) { id =>
        val (cx, cy, cz) = cells.coords(id)
        for (s <- ctx.sliceAt(cx, cy, cz, query); chunk <- scope(ctx.readChunk(fs, s)))
          out.blit(chunk, s.cutoutBox)
      } finally scope.close()
    }
    out
  }

  /** Spark schema of the voxel view, with unsigned types widened losslessly
    * (Spark has no unsigned ints): u8→Short, u16→Int, u32→Long,
    * u64→Decimal(20,0), f32→Float, f64→Double, bool→Boolean. */
  def voxelSchema: StructType =
    StructType(ints("x", "y", "z", "c") :+ field("value", Volume.widenedType(meta.dataType)))

  /** The distributed long-form view of a box: one row per voxel
    * `(x, y, z, c, value)` of `query ∩ volume`, in global coordinates — what
    * joins/aggregations and the whole relational surface run on. Missing
    * chunks yield zeros, preserving the reference's fill semantics
    * (src/modes/sequential.jl:52-54). It is a `VoxelScan` leaf over `query`
    * reading with [[confBc]], so range filters above it narrow its chunk
    * reads as they do for [[voxels]]; building it installs the scan's
    * strategy and rule into the session. */
  def toVoxels(query: Box): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    graft.plans.GraftExtensions.installVoxelScan(spark)
    val attrs = voxelSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    org.apache.spark.sql.graftshim.shim.dataFrame(spark,
      graft.plans.VoxelScan(ctx, query, attrs, confBc))
  }

  /** Chunk-ALIGNED zip of two volumes over `query`: one row per voxel
    * `(x, y, z, va, vb)` with `va` from this volume, `vb` from `other`.
    * Both volumes must share the chunk grid (size + offset), which turns
    * the pairing into a TASK-LOCAL second fetch: the same chunk task GETs
    * the two aligned objects and zips the decoded buffers in place. No
    * voxel-grain join exists anywhere — the naive
    * `toVoxels(a) JOIN toVoxels(b) ON (x,y,z)` shuffles two petavoxel
    * relations on a 3-int key, while this is one co-located pass over
    * chunk tasks whose only exchange is whatever aggregation follows.
    * This is the operator behind overlay analytics (segmentation ×
    * intensity, mask × image). Single-channel volumes; a missing chunk on
    * either side fills zeros under that volume's fillMissing, mirroring
    * [[toVoxels]]. */
  def zipVoxels(other: Volume, query: Box): DataFrame = {
    val c = ctx; val c2 = other.ctx
    require(c.chunkSize == c2.chunkSize && c.voxelOffset == c2.voxelOffset,
      s"zipVoxels needs one chunk grid: ${c.chunkSize}@${c.voxelOffset} vs ${c2.chunkSize}@${c2.voxelOffset}")
    require(c.numChannels == 1 && c2.numChannels == 1, "zipVoxels: single-channel volumes only")
    val openFs2 = other.storeFs
    val schema = StructType(ints("x", "y", "z") ++ Seq(
      field("va", Volume.widenedType(meta.dataType)), field("vb", Volume.widenedType(other.meta.dataType))))
    chunkRows(query, schema) { fs =>
      val fs2 = openFs2()
      s => c2.sliceAt(s.idx, s.idy, s.idz, query).iterator.flatMap { s2 =>
        val bufA = c.readChunk(fs, s)
        val bufB = c2.readChunk(fs2, s2)
        val cut = s.cutoutBox // ≡ s2.cutoutBox: same grid, same query
        for {
          z <- (cut.z.lo to cut.z.hi).iterator
          y <- (cut.y.lo to cut.y.hi).iterator
          x <- (cut.x.lo to cut.x.hi).iterator
        } yield {
          def at(cc: VolumeCtx, b: Option[VoxelBuffer]): Any = b match {
            case Some(bb) => Volume.widenedValue(cc.dataType, bb,
              x - bb.origin._1, y - bb.origin._2, z - bb.origin._3, 0)
            case None => Volume.zeroValue(cc.dataType)
          }
          Row(x, y, z, at(c, bufA), at(c2, bufB))
        }
      }
    }
  }

  /** Per-chunk connected components (6-connectivity, foreground = nonzero):
    * the chunk-grain building block of distributed CC labeling over a
    * segmentation/mask volume. Each chunk task decodes its chunk and labels
    * LOCAL components with an in-buffer union-find, emitting ONE row per
    * local component:
    *  - `prov` — provisional id = min linearized voxel index of the
    *    component (ids are globally unique and deterministic with no
    *    chunk-id arithmetic; linearization packs (z,y,x) as
    *    `z<<40 | y<<20 | x`, so coords must sit in [0, 2^20));
    *  - `n`, `x0..z1` — voxel count and bbox partials;
    *  - `face` — the component's voxels lying on the chunk's cutout faces,
    *    the ONLY voxels that can connect across chunks.
    * The caller merges across chunks on the O(surface) face graph
    * ([[graft.ops.ArrayOps.a16_connected_components]] runs
    * `Dedup.connectedComponents` pointer jumping over it), never on the
    * O(volume) voxel relation: at petavoxel scale the voxel data is read
    * once where it lives and only face voxels + per-component partials ever
    * move. This is the chunked decomposition connectomics pipelines run
    * over reference-format segmentations (the same chunk grid drives both;
    * reference: src/ChunkIterators.jl). A missing chunk under fillMissing
    * is all-background and emits nothing. */
  def localComponents(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "localComponents: single-channel volumes only")
    require(query.x.lo >= 0 && query.x.hi < (1 << 20) &&
      query.y.lo >= 0 && query.y.hi < (1 << 20) &&
      query.z.lo >= 0 && query.z.hi < (1 << 20),
      s"localComponents: coords must lie in [0, 2^20) for linearized ids, got $query")
    val schema = StructType(longs("prov", "n") ++ ints("x0", "x1", "y0", "y1", "z0", "z1") :+
      arrayOf("face", coordType))
    chunkRows(query, schema) { fs => s =>
      c.readChunk(fs, s).iterator.flatMap { b => // a missing chunk has no foreground
        val v = new CutBox(s.cutoutBox); val cut = v.cut
        val nx = v.nx; val ny = v.ny
        val (fg, _) = v.mask(b)
        // union-find over the cut box; -1 = background
        val parent = new Array[Int](fg.length)
        java.util.Arrays.fill(parent, -1)
        def find(i0: Int): Int = {
          var i = i0
          while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
          i
        }
        // pass 1: mark foreground, union each voxel with its already-
        // visited -x/-y/-z neighbors (x-fastest scan order)
        v.sweep { (lx, ly, lz, i) =>
          if (fg(i)) {
            parent(i) = i
            @inline def union(j: Int): Unit = {
              val ri = find(i); val rj = find(j)
              if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
            }
            if (lx > 0 && fg(i - 1)) union(i - 1)
            if (ly > 0 && fg(i - nx)) union(i - nx)
            if (lz > 0 && fg(i - nx * ny)) union(i - nx * ny)
          }
        }
        // pass 2: fold per-root stats + face voxel lists
        final class Acc {
          var n = 0L; var minLin = Long.MaxValue
          var x0 = Int.MaxValue; var x1 = Int.MinValue
          var y0 = Int.MaxValue; var y1 = Int.MinValue
          var z0 = Int.MaxValue; var z1 = Int.MinValue
          val face = scala.collection.mutable.ArrayBuffer.empty[Row]
        }
        val accs = scala.collection.mutable.LongMap.empty[Acc]
        v.sweep { (lx, ly, lz, i) =>
          if (fg(i)) {
            val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
            val lin = (gz.toLong << 40) | (gy.toLong << 20) | gx.toLong
            val a = accs.getOrElseUpdate(find(i).toLong, new Acc)
            a.n += 1
            if (lin < a.minLin) a.minLin = lin
            if (gx < a.x0) a.x0 = gx; if (gx > a.x1) a.x1 = gx
            if (gy < a.y0) a.y0 = gy; if (gy > a.y1) a.y1 = gy
            if (gz < a.z0) a.z0 = gz; if (gz > a.z1) a.z1 = gz
            if (v.onFace(lx, ly, lz)) a.face += Row(gx, gy, gz)
          }
        }
        accs.values.iterator.map { a =>
          Row(a.minLin, a.n, a.x0, a.x1, a.y0, a.y1, a.z0, a.z1, a.face.toSeq)
        }
      }
    }
  }

  /** Per-chunk binary DILATION partials (6-connectivity, foreground =
    * nonzero) — the HALO-EXCHANGE building block morphological operators
    * run on at petavoxel scale. Each chunk task decodes its chunk once and
    * emits ONE row:
    *  - `cx/cy/cz` — the chunk's grid indices;
    *  - `n_fg` — foreground voxels in this chunk's cut box;
    *  - `n_dil` — voxels of the cut box in the LOCAL dilated set (fg or
    *    any in-box 6-neighbor fg — correct except for growth arriving
    *    across a seam);
    *  - `shell` — local-dilated voxels lying on the cut faces: the only
    *    voxels a neighbor's spill can target, so membership tests against
    *    the full dilated set reduce to this O(surface) list;
    *  - `spill` — (target chunk, coord) pairs one step ACROSS a seam from
    *    this chunk's face foreground (clipped to `query`): the halo this
    *    chunk pushes to its neighbors.
    * The caller ([[graft.ops.ArrayOps.a17_dilate]]) dedups spill coords,
    * anti-joins the shell, and adds the survivors per target chunk — the
    * voxel relation never shuffles; only shell + spill (O(surface)) rows
    * move. Restricting to `query`-interior semantics: dilation does not
    * grow outside the query box. */
  def localDilate(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "localDilate: single-channel volumes only")
    val schema = StructType(ints("cx", "cy", "cz") ++ longs("n_fg", "n_dil") ++ Seq(
      arrayOf("shell", coordType),
      arrayOf("spill", StructType(ints("tcx", "tcy", "tcz", "x", "y", "z")))))
    chunkRows(query, schema) { fs => s =>
      c.readChunk(fs, s).iterator.map { b => // a missing chunk is all background
        val v = new CutBox(s.cutoutBox); val cut = v.cut
        val nx = v.nx; val ny = v.ny; val nz = v.nz
        val (fg, nFg) = v.mask(b)
        var nDil = 0L
        val shell = scala.collection.mutable.ArrayBuffer.empty[Row]
        val spill = scala.collection.mutable.ArrayBuffer.empty[Row]
        val push: Step = (x, y, z, dcx, dcy, dcz) =>
          spill += Row(s.idx + dcx, s.idy + dcy, s.idz + dcz, x, y, z)
        v.sweep { (lx, ly, lz, i) =>
          val self = fg(i)
          val dil = self ||
            (lx > 0 && fg(i - 1)) || (lx < nx - 1 && fg(i + 1)) ||
            (ly > 0 && fg(i - nx)) || (ly < ny - 1 && fg(i + nx)) ||
            (lz > 0 && fg(i - nx * ny)) || (lz < nz - 1 && fg(i + nx * ny))
          if (v.onFace(lx, ly, lz)) {
            if (dil) shell += Row(cut.x.lo + lx, cut.y.lo + ly, cut.z.lo + lz)
            if (self) v.steps(lx, ly, lz, query, push)
          }
          if (dil) nDil += 1
        }
        Row(s.idx, s.idy, s.idz, nFg, nDil, shell.toSeq, spill.toSeq)
      }
    }
  }

  /** Per-chunk binary EROSION partials (6-connectivity) — [[localDilate]]'s
    * dual, where the halo carries PRESENCE proofs instead of growth: a
    * voxel survives erosion iff it and all 6 neighbors are foreground
    * (neighbors outside `query` count as background — strict box-interior
    * semantics). Interior voxels decide locally; a foreground voxel on a
    * cut face needs its across-seam neighbors' values, so each chunk emits
    *  - `n_fg`, `n_inner` — foreground count and locally-decided erosion
    *    survivors (all 6 neighbors in-cut and foreground);
    *  - `cand` — face foreground voxels whose IN-CUT neighbors all pass
    *    but which still need 1–3 across-seam confirmations (`needs`);
    *    voxels with an out-of-`query` neighbor are dropped here (decided:
    *    background neighbor);
    *  - `face` — this chunk's foreground face voxels, the presence proofs
    *    neighbors probe.
    * The caller ([[graft.ops.ArrayOps.a18_erode]]) left-joins each cand's
    * needs against the face relation and keeps candidates with every need
    * confirmed — O(surface) rows move, the voxel relation never shuffles. */
  def localErode(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "localErode: single-channel volumes only")
    val schema = StructType(ints("cx", "cy", "cz") ++ longs("n_fg", "n_inner") ++ Seq(
      arrayOf("cand", StructType(coordType.fields :+ arrayOf("needs", coordType))),
      arrayOf("face", coordType)))
    chunkRows(query, schema) { fs => s =>
      c.readChunk(fs, s).iterator.map { b => // a missing chunk is all background
        val v = new CutBox(s.cutoutBox); val cut = v.cut
        val (fg, nFg) = v.mask(b)
        var nInner = 0L
        val cand = scala.collection.mutable.ArrayBuffer.empty[Row]
        val face = v.erosion(fg, query)((lx, ly, lz, needs) =>
          cand += Row(cut.x.lo + lx, cut.y.lo + ly, cut.z.lo + lz, needs), _ => nInner += 1)
        Row(s.idx, s.idy, s.idz, nFg, nInner, cand.toSeq, face)
      }
    }
  }

  /** Per-chunk binary OPENING partials (erode → dilate, 6-connectivity) —
    * the denoise pass production segmentation pipelines run over masks
    * (speckle and thin-bridge removal), fused into ONE decode pass per
    * chunk with O(surface) halo relations. The two-stage composition
    * stays chunk-local wherever the math allows:
    *  - erosion of NON-FACE voxels is decided locally (all 6 neighbors
    *    in-cut); their 6-neighborhood dilation also stays in-cut (a
    *    voxel ≥ 1 from every face dilates to voxels ≥ 0 from every face),
    *    so the opened-from-interior set is exact without any exchange:
    *    `n_open_loc` counts it;
    *  - FACE foreground voxels whose in-cut neighbors all pass still need
    *    across-seam confirmation to erode (`cand`, with `needs` — the
    *    [[localErode]] machinery); since a face voxel's dilation is the
    *    only part that can cross a seam, each cand also carries its 7
    *    owner-resolved dilation `targets` (the [[localDilate]] spill
    *    device), applied by the combiner ONLY if the cand confirms;
    *  - `rim` lists the locally-opened voxels within distance 1 of a cut
    *    face — exactly the region where confirmed-cand dilations can
    *    collide with locally-decided openings, so the combiner's dedup
    *    anti-join is O(surface), never O(volume);
    *  - `face` re-emits foreground face voxels as presence proofs.
    * The voxel relation never shuffles; see
    * [[graft.ops.ArrayOps.openStats]] for the relational combiner. */
  def localOpen(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "localOpen: single-channel volumes only")
    val schema = StructType(ints("cx", "cy", "cz") ++ longs("n_fg", "n_open_loc") ++ Seq(
      arrayOf("rim", coordType),
      arrayOf("cand", StructType(coordType.fields ++ Seq(arrayOf("needs", coordType),
        arrayOf("targets", StructType(ints("tcx", "tcy", "tcz", "x", "y", "z")))))),
      arrayOf("face", coordType)))
    chunkRows(query, schema) { fs => s =>
      c.readChunk(fs, s).iterator.map { b => // a missing chunk is all background
        val v = new CutBox(s.cutoutBox); val cut = v.cut
        val nx = v.nx; val ny = v.ny; val nz = v.nz
        val (fg, nFg) = v.mask(b)
        // pass 1: the erosion pass, each face candidate carrying its
        // owner-resolved dilation targets
        val opened = new Array[Boolean](fg.length)
        val cand = scala.collection.mutable.ArrayBuffer.empty[Row]
        val face = v.erosion(fg, query)({ (lx, ly, lz, needs) =>
          // all 7 dilation targets are in-box (an in-box eroded voxel's
          // neighbors are in-box — its out-of-box neighbors would have
          // killed it)
          val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
          val targets = scala.collection.mutable.ArrayBuffer(Row(s.idx, s.idy, s.idz, gx, gy, gz))
          v.steps(lx, ly, lz, query, new Step {
            def seam(x: Int, y: Int, z: Int, dcx: Int, dcy: Int, dcz: Int): Unit =
              targets += Row(s.idx + dcx, s.idy + dcy, s.idz + dcz, x, y, z)
            override def inCut(j: Int, x: Int, y: Int, z: Int): Unit =
              targets += Row(s.idx, s.idy, s.idz, x, y, z)
          })
          cand += Row(gx, gy, gz, needs, targets.toSeq)
        }, { i =>
          // dilate the interior-eroded voxel: all 7 in-cut
          opened(i) = true
          opened(i - 1) = true; opened(i + 1) = true
          opened(i - nx) = true; opened(i + nx) = true
          opened(i - nx * ny) = true; opened(i + nx * ny) = true
        })
        var nOpenLoc = 0L
        val rim = scala.collection.mutable.ArrayBuffer.empty[Row]
        v.sweep { (lx, ly, lz, i) =>
          if (opened(i)) {
            nOpenLoc += 1
            if (lx <= 1 || lx >= nx - 2 || ly <= 1 || ly >= ny - 2 || lz <= 1 || lz >= nz - 2)
              rim += Row(cut.x.lo + lx, cut.y.lo + ly, cut.z.lo + lz)
          }
        }
        Row(s.idx, s.idy, s.idz, nFg, nOpenLoc, rim.toSeq, cand.toSeq, face)
      }
    }
  }

  /** Per-chunk ZONE-MAP statistics — the parquet-footer idea applied to
    * the chunk store: one (cx, cy, cz, vmin, vmax, n) row per chunk of
    * `query`, from one decode pass. Built ONCE (an ingest-time or
    * maintenance artifact — chunk-grain, so petavoxel volumes yield a
    * megabyte-scale relation), it lets predicate scans skip whole chunks
    * without fetching them ([[toVoxelsAtLeast]]). Missing chunks report
    * (0, 0) under fillMissing. Integer single-channel volumes only. */
  def chunkStats(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "chunkStats: single-channel volumes only")
    require(c.dataType != graft.core.Meta.TFloat32 && c.dataType != graft.core.Meta.TFloat64,
      "chunkStats: integer volumes only")
    chunkRows(query, StructType(ints("cx", "cy", "cz") ++ longs("vmin", "vmax", "n"))) { fs => s =>
      val cut = s.cutoutBox
      val nTot = cut.x.len.toLong * cut.y.len * cut.z.len
      Iterator.single(c.readChunk(fs, s) match {
        case None => Row(s.idx, s.idy, s.idz, 0L, 0L, nTot)
        case Some(b) =>
          var mn = Long.MaxValue; var mx = Long.MinValue
          val ox = cut.x.lo - b.origin._1; val oy = cut.y.lo - b.origin._2; val oz = cut.z.lo - b.origin._3
          new CutBox(cut).sweep { (lx, ly, lz, _) =>
            val v = b.getLong(ox + lx, oy + ly, oz + lz, 0)
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          Row(s.idx, s.idy, s.idz, mn, mx, nTot)
      })
    }
  }

  /** Zone-map-PRUNED predicate scan: voxels of `query` with `value ≥ t`,
    * reading ONLY chunks whose [[chunkStats]] `vmax` admits a match — the
    * chunk-store analogue of parquet row-group skipping, the difference
    * between touching every blob and touching the qualifying few when a
    * threshold query (bright-spot detection, label presence) is selective.
    * Pass a pre-built `stats` relation to reuse the at-rest artifact (the
    * production shape — stats built once at ingest, served to every
    * query); by default the stats pass runs inline. The chunk tasks are the
    * kept stats rows inside the query's cells (broadcast onto the chunk-id
    * range, so they spread like any chunk task set), and pruned chunks are
    * never fetched
    * (spec-proven: deleting them from the store does not disturb the
    * pruned scan). Integer single-channel volumes only. */
  def toVoxelsAtLeast(query: Box, t: Long, stats: Option[DataFrame] = None): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "toVoxelsAtLeast: single-channel volumes only")
    val kept = stats.getOrElse(chunkStats(query)).filter(col("vmax") >= t)
    chunkRows(query, voxelSchema, Some(kept)) { fs => s =>
      val bufOpt = c.readChunk(fs, s)
      val cut = s.cutoutBox
      for {
        z <- (cut.z.lo to cut.z.hi).iterator
        y <- (cut.y.lo to cut.y.hi).iterator
        x <- (cut.x.lo to cut.x.hi).iterator
        lv = bufOpt match {
          case Some(b) => b.getLong(x - b.origin._1, y - b.origin._2, z - b.origin._3, 0)
          case None => 0L
        }
        if lv >= t
      } yield Row(x, y, z, 0, Volume.widenedOf(c.dataType, lv))
    }
  }

  /** Per-chunk box-BLUR partials (6-connectivity boundary-aware mean) —
    * the VALUE-carrying member of the halo-exchange family (dilation's
    * halo carries growth, erosion's carries presence proofs, contacts'
    * carries label pairs; a stencil's carries neighbor VALUES). Semantics:
    * `blur(p) = ⌊(v(p) + Σ v(q)) / (1 + #q)⌋` over the 6-neighbors `q` of
    * `p` that lie INSIDE `query` (out-of-box neighbors are excluded from
    * numerator and denominator — boundary-aware, never zero-padded).
    * Each chunk task decodes once and emits ONE row:
    *  - `zsums` — per-z (n, Σ blur) partials over voxels whose in-query
    *    neighbors are ALL in this chunk's cut: decided locally;
    *  - `needs` — one row per (face voxel × across-seam neighbor): the
    *    voxel's coordinate, its local partial sum `s0` (self + in-cut
    *    neighbors), its FULL divisor `c` (geometry-derived, known
    *    locally), and the in-query neighbor coordinate whose value must
    *    arrive from the adjacent chunk;
    *  - `vals` — this chunk's cut-face voxel values: the only values a
    *    neighbor can need.
    * The caller ([[graft.ops.ArrayOps.blurStats]]) joins needs→vals on the
    * neighbor coordinate (a value that never arrives, past the volume,
    * reads as zero), re-groups per voxel to finish `⌊s/c⌋`, and folds
    * everything per z — O(surface) rows move, the voxel relation never
    * shuffles. A missing chunk reads as zeros (fill-missing semantics),
    * still contributing its geometry. Integer volumes only. */
  def localBlur(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "localBlur: single-channel volumes only")
    require(c.dataType != graft.core.Meta.TFloat32 && c.dataType != graft.core.Meta.TFloat64,
      "localBlur: integer volumes only (exact ⌊s/c⌋ gate semantics)")
    val schema = StructType(ints("cx", "cy", "cz") ++ Seq(
      arrayOf("zsums", StructType(ints("z") ++ longs("n", "s"))),
      arrayOf("needs", StructType(ints("px", "py", "pz") ++ longs("s0") ++ ints("c", "tx", "ty", "tz"))),
      arrayOf("vals", StructType(ints("x", "y", "z") ++ longs("v")))))
    chunkRows(query, schema) { fs => s =>
      val v = new CutBox(s.cutoutBox); val cut = v.cut
      val vv = v.values(c.readChunk(fs, s)) // a missing chunk reads as zeros
      val zn = new Array[Long](v.nz); val zs = new Array[Long](v.nz)
      val needs = scala.collection.mutable.ArrayBuffer.empty[Row]
      val vals = scala.collection.mutable.ArrayBuffer.empty[Row]
      // the voxel's sum over itself and its in-cut in-query neighbours, its
      // in-query neighbourhood size, and the neighbours across a seam
      var s0 = 0L; var cTot = 0
      val miss = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      val probe = new Step {
        def seam(x: Int, y: Int, z: Int, dcx: Int, dcy: Int, dcz: Int): Unit = {
          cTot += 1; miss += ((x, y, z))
        }
        override def inCut(j: Int, x: Int, y: Int, z: Int): Unit = { cTot += 1; s0 += vv(j) }
      }
      v.sweep { (lx, ly, lz, i) =>
        val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
        s0 = vv(i); cTot = 1; miss.clear()
        v.steps(lx, ly, lz, query, probe)
        if (miss.isEmpty) {
          zn(lz) += 1
          zs(lz) += Math.floorDiv(s0, cTot.toLong)
        } else {
          miss.foreach { case (tx, ty, tz) => needs += Row(gx, gy, gz, s0, cTot, tx, ty, tz) }
        }
        if (v.onFace(lx, ly, lz)) vals += Row(gx, gy, gz, vv(i))
      }
      val zsums = (0 until v.nz).filter(zn(_) > 0).map(i => Row(cut.z.lo + i, zn(i), zs(i)))
      Iterator.single(Row(s.idx, s.idy, s.idz, zsums, needs.toSeq, vals.toSeq))
    }
  }

  /** Per-chunk CONTACT-SURFACE partials over a labeled segmentation volume
    * — the connectomics "contact sites" primitive (a synapse-candidate
    * pipeline counts, per pair of distinct nonzero labels, the 6-adjacent
    * voxel pairs where the two segments touch). Each chunk task decodes its
    * chunk once and emits ONE row:
    *  - `cx/cy/cz` — the chunk's grid indices;
    *  - `pairs` — the chunk-LOCAL contact counts: for every in-cut voxel
    *    pair adjacent along +x/+y/+z with differing nonzero labels, one
    *    count keyed by (min label, max label). Positive directions only, so
    *    each local pair is counted exactly once;
    *  - `probe` — for each nonzero voxel on a POSITIVE cut face, the
    *    across-seam coordinate it touches (clipped to `query`) plus its own
    *    label: the halo this chunk pushes forward;
    *  - `negface` — this chunk's nonzero voxels on any NEGATIVE cut face
    *    (x/y/z local index 0) with their labels: the presence relation the
    *    previous chunk's probes join against.
    * Cross-seam pairs are formed ONLY by lower-chunk probes joining
    * upper-chunk negfaces, so each seam pair is counted exactly once and
    * only O(surface) rows move — the voxel relation never shuffles. The
    * caller ([[graft.ops.ArrayOps.contactStats]]) explodes `pairs`, joins
    * probe→negface on coordinates, and folds both into per-label-pair
    * totals. Integer label volumes only. */
  def localContacts(query: Box): DataFrame = {
    val c = ctx
    require(c.numChannels == 1, "localContacts: single-channel volumes only")
    require(c.dataType != graft.core.Meta.TFloat32 && c.dataType != graft.core.Meta.TFloat64,
      "localContacts: integer label volumes only")
    val labeled = StructType(coordType.fields ++ longs("label"))
    val schema = StructType(ints("cx", "cy", "cz") ++ Seq(
      arrayOf("pairs", StructType(longs("la", "lb", "n"))),
      arrayOf("probe", labeled), arrayOf("negface", labeled)))
    chunkRows(query, schema) { fs => s =>
      c.readChunk(fs, s).iterator.map { b => // a missing chunk is all background
        val v = new CutBox(s.cutoutBox); val cut = v.cut
        val nx = v.nx; val ny = v.ny; val nz = v.nz
        val lab = v.values(Some(b))
        val pairCnt = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        val probe = scala.collection.mutable.ArrayBuffer.empty[Row]
        val negface = scala.collection.mutable.ArrayBuffer.empty[Row]
        @inline def addPair(a: Long, bb: Long): Unit = {
          val k = if (a < bb) (a, bb) else (bb, a)
          pairCnt.update(k, pairCnt.getOrElse(k, 0L) + 1L)
        }
        v.sweep { (lx, ly, lz, i) =>
          val l = lab(i)
          if (l != 0L) {
            val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
            // local +x/+y/+z pairs — each counted exactly once
            if (lx + 1 < nx) { val n = lab(i + 1); if (n != 0L && n != l) addPair(l, n) }
            if (ly + 1 < ny) { val n = lab(i + nx); if (n != 0L && n != l) addPair(l, n) }
            if (lz + 1 < nz) { val n = lab(i + nx * ny); if (n != 0L && n != l) addPair(l, n) }
            // forward halo: positive faces push a probe across the seam
            if (lx == nx - 1 || ly == ny - 1 || lz == nz - 1) v.steps(lx, ly, lz, query,
              (x, y, z, dcx, dcy, dcz) => if (dcx + dcy + dcz > 0) probe += Row(x, y, z, l))
            // backward presence: negative faces are probe targets
            if (lx == 0 || ly == 0 || lz == 0) negface += Row(gx, gy, gz, l)
          }
        }
        val pairs = pairCnt.toSeq.sortBy(_._1).map { case ((a, bb), n) => Row(a, bb, n) }
        Row(s.idx, s.idy, s.idz, pairs, probe.toSeq, negface.toSeq)
      }
    }
  }

  /** The whole volume as a Catalyst-native voxel relation: a custom
    * `VoxelScan` leaf whose box is narrowed by the `PushBoxFilters`
    * optimizer rule, so `voxels().filter($"x".between(a, b) && ...)` prunes
    * chunk I/O exactly like a `cutout` of that box. */
  def voxels(): DataFrame = toVoxels(ctx.volumeBox)

  /** Driver-buffer ingest: the reference's `ba[ranges...] = buf`
    * (reference: src/type.jl:137-150). Enforces chunk-aligned write starts
    * like the reference (src/modes/multithreads.jl:45-47: alignment uses the
    * raw voxel offset), clamps at the volume boundary, slices/encodes/puts
    * one object per chunk in one RDD job without a shuffle (sharded: a task
    * owns whole shards); a buffer wholly outside the volume launches none.
    * The buffer ships to executors via broadcast — fine for cutout-sized
    * writes; use `fromVoxels` for bulk loads.
    *
    * Concurrency contract (this and `fromVoxels`): writes are
    * last-PUT-wins per stored OBJECT, with no cross-job coordination —
    * object stores offer no compare-and-swap to build one cheaply
    * (the reference engines carry the same non-coordinated-writer caveat).
    * For per-chunk layouts the lost-update blast radius is one chunk; for
    * SHARDED layouts the read-modify-write is per whole shard, so two
    * concurrent jobs touching DISJOINT inner chunks of the same shard can
    * still drop each other's cells. Run concurrent writers only on
    * shard-disjoint (per-chunk: chunk-disjoint) regions. */
  def ingest(buf: VoxelBuffer): Unit = {
    require(mrc.isEmpty, "mrc: read-only through the chunk engine — " +
      "export with graft.sources.Mrc.write")
    val q = buf.box
    val (csx, csy, csz) = ctx.chunkSize
    val (offx, offy, offz) = ctx.voxelOffset
    require(Math.floorMod(q.x.lo - 1 - offx, csx) == 0 &&
      Math.floorMod(q.y.lo - 1 - offy, csy) == 0 &&
      Math.floorMod(q.z.lo - 1 - offz, csz) == 0,
      "write start must align with the chunk grid (reference: src/modes/multithreads.jl:45-47)")
    require(buf.nc == meta.numChannels, "channel count mismatch")
    require(buf.dataType == meta.dataType, "dtype mismatch")
    val c = ctx; val openFs = storeFs
    /** Encoded bytes for one chunk of the write, read-modify-merged when the
      * write box only partially covers it (so existing data survives). The
      * stored blob must always cover the chunk box — that's the shape the
      * read path reconstructs from the grid. `existing` supplies the stored
      * blob (None = absent) — sharded callers serve it from the shard
      * object they already read, never a second ranged GET. */
    def encodeCovered(b: VoxelBuffer, s: Grid.ChunkSlice,
        existing: => Option[Array[Byte]]): Array[Byte] = {
      val cb = s.chunkBox
      val covered = cb.intersect(b.box)
      val chunkBuf =
        if (covered == cb) b.slice(cb)
        else {
          val merged = existing match {
            case Some(blob) => c.decodeChunk(s, blob)
            case None => VoxelBuffer.zeros(c.dataType, cb.x.len, cb.y.len, cb.z.len,
              c.numChannels, (cb.x.lo, cb.y.lo, cb.z.lo))
          }
          merged.blit(b, covered)
          merged
        }
      c.encodeChunk(chunkBuf)
    }
    for (cells <- chunkCells(q, perShard = c.shard.isDefined)) {
      val bufBc = spark.sparkContext.broadcast(buf)
      val written = cells.mapPartitions { it =>
        val fs = openFs()
        val b = bufBc.value
        c.shard match {
          case None => it.flatMap { case (cx, cy, cz) =>
            c.sliceAt(cx, cy, cz, q).map { s =>
              ChunkStore.write(fs, c.root, c.keyOf(s), encodeCovered(b, s, c.fetchChunk(fs, s)))
              1
            }
          }
          // sharded: ALL inner chunks of one shard object must be written
          // together (per-cell writes would clobber each other), so a task
          // owns whole shards — one read and one assembled PUT per shard,
          // inner cells untouched by the write preserved from the existing
          // object. Every shard in the range holds a cell of the clipped box.
          case Some(p) => it.map { case (sx, sy, sz) =>
            val slices = for {
              cz <- sz * p.gz + 1 to (sz + 1) * p.gz
              cy <- sy * p.gy + 1 to (sy + 1) * p.gy
              cx <- sx * p.gx + 1 to (sx + 1) * p.gx
              s <- c.sliceAt(cx, cy, cz, q)
            } yield s
            c.rewriteShard(fs, sx, sy, sz)(existing => slices.map { s =>
              val (wx, wy, wz) = c.innerCoords(s)
              val cell = p.linear(wx, wy, wz)
              cell -> encodeCovered(b, s, existing.get(cell))
            }.toMap)
            slices.size
          }
        }
      }
      // destroy even when the job fails: the driver's block manager holds
      // the whole buffer until then
      try spark.sparkContext.runJob(written, (it: Iterator[Int]) => it.sum)
      finally bufBc.destroy()
    }
  }

  /** Bulk distributed ingest from a voxel DataFrame `(x, y, z[, c], value)`:
    * one Spark job under one SQL execution of the input plan. Map tasks fold
    * rows into partial chunks ([[Volume.PartialChunks]]) in Spark's spilling
    * combiner; reduce tasks merge, encode and put each chunk (sharded: sorted
    * by shard, each shard rewritten once), so voxels absent from the input
    * read zero. Values outside the volume are dropped; a bad channel or value
    * fails with an `IllegalArgumentException` naming the voxel. Same contract
    * as [[ingest]]: sharded concurrent jobs must target disjoint SHARDS. */
  def fromVoxels(df: DataFrame): Long = {
    require(mrc.isEmpty, "mrc: read-only through the chunk engine — " +
      "export with graft.sources.Mrc.write")
    val c = ctx; val openFs = storeFs; val t = meta.dataType; val nc = meta.numChannels
    val (csx, csy, csz) = c.chunkSize
    val (ox, oy, oz) = (Grid.gridOffset(c.voxelOffset._1, csx),
      Grid.gridOffset(c.voxelOffset._2, csy), Grid.gridOffset(c.voxelOffset._3, csz))
    val vb = c.volumeBox
    val ids = Grid.idRanges(vb, c.chunkSize, c.voxelOffset) // chunks are keyed by linear id
    val prepared = (if (df.columns.contains("c")) df else df.withColumn("c", lit(0)))
      .filter(col("x").between(vb.x.lo, vb.x.hi) && col("y").between(vb.y.lo, vb.y.hi) &&
        col("z").between(vb.z.lo, vb.z.hi))
      .select(col("x").cast(IntegerType), col("y").cast(IntegerType), col("z").cast(IntegerType),
        col("c").cast(IntegerType), Volume.valueTransport(t, col("value")))
    val shardOf = (id: Long) => { val (cx, cy, cz) = ids.coords(id); c.shardCoords(cx, cy, cz) }
    val qe = prepared.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("fromVoxels")) {
      val voxels = qe.toRdd.map { r =>
        val bits = Volume.voxelBits(t, nc, r)
        val x = r.getInt(0) - 1 - ox; val y = r.getInt(1) - 1 - oy; val z = r.getInt(2) - 1 - oz
        (ids.id(Math.floorDiv(x, csx) + 1, Math.floorDiv(y, csy) + 1, Math.floorDiv(z, csz) + 1),
          (Grid.flatIndex(Math.floorMod(x, csx), Math.floorMod(y, csy), Math.floorMod(z, csz),
            r.getInt(3), csx, csy, csz), bits))
      }
      // a chunk's write unit is the chunk itself, or its shard
      val units = new org.apache.spark.HashPartitioner(math.max(1, voxels.getNumPartitions)) {
        override def getPartition(id: Any): Int =
          super.getPartition(if (c.shard.isEmpty) id else shardOf(id.asInstanceOf[Long]))
      }
      val pc = new Volume.PartialChunks(t, csx * csy * csz * nc)
      val merged = new org.apache.spark.rdd.ShuffledRDD[Long, (Int, Long), Array[Byte]](voxels, units)
        .setAggregator(org.apache.spark.Aggregator[Long, (Int, Long), Array[Byte]](pc.one, pc.add, pc.merge))
        .setMapSideCombine(true)
      if (c.shard.isDefined) merged.setKeyOrdering(Ordering.by((id: Long) => (shardOf(id), id)))
      val written = merged.mapPartitions { it =>
        val fs = openFs()
        val chunks = it.map { case (id, part) =>
          val (cx, cy, cz) = ids.coords(id)
          val s = c.sliceAt(cx, cy, cz, vb).get; val cb = s.chunkBox
          val cell = new VoxelBuffer(t, csx, csy, csz, nc, (cb.x.lo, cb.y.lo, cb.z.lo), pc.bytes(part))
          (id, s, c.encodeChunk(if (cell.box == cb) cell else cell.slice(cb)))
        }.buffered
        c.shard match {
          case None => chunks.map { case (_, s, blob) => ChunkStore.write(fs, c.root, c.keyOf(s), blob); 1L }
          case Some(p) => Iterator.continually(chunks).takeWhile(_.hasNext).map { _ =>
            val (sx, sy, sz) = shardOf(chunks.head._1)
            val cells = Iterator.continually(chunks)
              .takeWhile(ch => ch.hasNext && shardOf(ch.head._1) == ((sx, sy, sz))).map(_.next())
              .map { case (_, s, blob) => val (wx, wy, wz) = c.innerCoords(s); p.linear(wx, wy, wz) -> blob }
              .toMap
            c.rewriteShard(fs, sx, sy, sz)(_ => cells)
            cells.size.toLong
          }
        }
      }
      spark.sparkContext.runJob(written, (it: Iterator[Long]) => it.sum).sum
    }
  }

  /** Grid coordinates of chunks PRESENT in the store within `query` — the
    * reference's `keys` + key-parse enumeration (reference:
    * src/backends/S3Dicts.jl:100-118 / src/Indexes.jl:96-106),
    * distributed: one bounded prefix LIST per leading-coordinate column
    * ([[VolumeCtx.listingGlobs]] — the same strategy every key layout now
    * shares with the precomputed DSv2 scan), names parsed back to grid
    * coords and bounds-filtered. Sparse-store cost is O(objects) with ZERO
    * existence probes; LIST fan-out grows with store width. Sharded stores
    * enumerate via the shard index instead (it IS a listing — one cached
    * GET per shard). */
  def presentChunks(query: Box): Dataset[(Int, Int, Int)] = {
    implicit val enc3 = Encoders.product[(Int, Int, Int)]
    listedChunkSizes(query, "presentChunks").map { case (cx, cy, cz, _) => (cx, cy, cz) }
  }

  /** The shared distributed-listing scaffold behind [[presentChunks]] and
    * [[storageReport]]: glob the store (one LIST per bounded glob, sizes
    * carried by the listing itself), parse names back to grid coords,
    * bounds-filter to the query's id ranges. */
  private def listedChunkSizes(query: Box, caller: String): Dataset[(Int, Int, Int, Long)] = {
    val c = ctx; val openFs = storeFs
    require(c.shard.isEmpty,
      s"$caller: sharded stores enumerate via the shard index (one cached GET per shard)")
    implicit val enc4 = Encoders.product[(Int, Int, Int, Long)]
    val q = query.intersect(c.volumeBox)
    if (q.isEmpty) return spark.emptyDataset[(Int, Int, Int, Long)]
    val ids = Grid.idRanges(q, c.chunkSize, c.voxelOffset)
    val globs = c.listingGlobs(ids)
    val slots = math.max(1, math.min(globs.size,
      PrecomputedScan.maxListingTasks(spark.sparkContext.defaultParallelism)))
    spark.createDataset(globs)(Encoders.STRING).repartition(slots)
      .mapPartitions { git =>
        val fs = openFs()
        git.flatMap(g => ChunkStore.globRelSizes(fs, c.root, c.scaleKey, g))
          .flatMap { case (rel, len) =>
            c.parseRelKey(rel).map { case (cx, cy, cz) => (cx, cy, cz, len) } }
          .filter { case (cx, cy, cz, _) =>
            cx >= ids.lox && cx <= ids.hix && cy >= ids.loy && cy <= ids.hiy &&
              cz >= ids.loz && cz <= ids.hiz }
      }
  }

  /** Storage audit over ONE LIST pass, ZERO GETs: per present chunk, the
    * stored object size (the listing already carries `FileStatus.getLen`)
    * beside the raw decoded size from the grid geometry — compression
    * ratios and store health for a petavoxel layer without touching a
    * single blob. Same distribution/glob strategy as [[presentChunks]];
    * the raw size reuses the engine's own `sliceAt` clamping, so partial
    * edge chunks are sized exactly as the codec stores them. */
  def storageReport(query: Box): DataFrame = {
    val c = ctx
    implicit val enc = Encoders.product[(Int, Int, Int, Long, Long)]
    val q = query.intersect(c.volumeBox)
    val bytesPerVoxel = c.dataType.byteSize.toLong * c.numChannels
    listedChunkSizes(query, "storageReport")
      .flatMap { case (cx, cy, cz, len) =>
        c.sliceAt(cx, cy, cz, q).map { s =>
          val b = s.chunkBox
          (cx, cy, cz, len, b.x.len.toLong * b.y.len * b.z.len * bytesPerVoxel)
        }
      }
      .toDF("cx", "cy", "cz", "stored_bytes", "raw_bytes")
  }

  /** Keys of expected-but-absent chunks — the reference's
    * `list_missing_chunks` (reference: src/type.jl:299-328). Two planning
    * modes, mirroring the precomputed DSv2 scan's probe-vs-listing choice:
    *
    *  - PROBE (small grids): a distributed existence probe over the
    *    arithmetic chunk grid — the expected cells are the chunk tasks'
    *    ids (never materialized on the driver) and each executor probes its
    *    own cells. O(cells) HEADs; nothing lists the store.
    *  - LISTING (`auto` above [[PrecomputedScan.ListingThreshold]] of the
    *    cells the box touches inside the volume,
    *    non-sharded): LIST the present chunks (O(objects), bounded per-
    *    column globs) and anti-join the expected grid — the sparse-store
    *    plan, where a mostly-empty 100 TB store would otherwise pay an
    *    existence probe per EMPTY cell.
    *
    *  Sharded stores always probe: `chunkExists` reads the per-shard index
    *  (one cached GET per shard, then in-memory lookups per cell), already
    *  O(shard objects) I/O. */
  def missingChunks(query: Box, planning: String = "auto"): Dataset[String] = {
    val c = ctx
    val useListing = planning match {
      case "listing" => true
      case "probe" => false
      case "auto" => c.shard.isEmpty &&
        c.cellRanges(query).total > PrecomputedScan.ListingThreshold
      case other => throw new IllegalArgumentException(
        s"missingChunks planning must be auto|probe|listing, got $other")
    }
    if (useListing) {
      val expected = chunkRows(query, StructType(ints("cx", "cy", "cz") :+ field("key", StringType))) {
        _ => s => Iterator.single(Row(s.idx, s.idy, s.idz, c.relKey(s)))
      }
      expected.join(presentChunks(query).toDF("cx", "cy", "cz"), Seq("cx", "cy", "cz"), "left_anti")
        .select(col("key")).as(Encoders.STRING)
    } else
      chunkRows(query, StructType(Seq(field("key", StringType)))) { fs =>
        // suffix convention resolved once per partition (first hit wins):
        // one existence probe per absent cell, not two
        val prober = new ChunkStore.SuffixProber(fs, c.root)
        s => if (c.chunkExists(fs, prober, s)) Iterator.empty else Iterator.single(Row(c.relKey(s)))
      }.as(Encoders.STRING)
  }

  /** Write the info JSON back to the store (reference: src/type.jl:335-339). */
  def commitInfo(): Unit = {
    val fs = ChunkStore.fs(root, spark.sessionState.newHadoopConf())
    ChunkStore.write(fs, root, "info", Meta.toJson(meta).getBytes("UTF-8"))
  }
}

object Volume {

  /** Open an existing dataset: fetch + parse `info`
    * (reference: src/type.jl:52-64; gzip-compressed info accepted). */
  def open(spark: SparkSession, root: String, mip: Int = 1, fillMissing: Boolean = true): Volume = {
    val fs = ChunkStore.fs(root, spark.sessionState.newHadoopConf())
    val raw = ChunkStore.read(fs, root, "info")
    val jsonBytes = Codec.GzipCodec.decode(raw) // sniffs magic; passthrough if plain
    new Volume(spark, root, Meta.parse(new String(jsonBytes, "UTF-8")), mip, fillMissing)
  }

  /** Create a new dataset: write `info`, return the handle
    * (reference: src/type.jl:85-99). */
  def create(spark: SparkSession, root: String, meta: VolumeMeta, mip: Int = 1,
             fillMissing: Boolean = true): Volume = {
    val v = new Volume(spark, root, meta, mip, fillMissing)
    v.commitInfo()
    v
  }

  import graft.core.Meta._

  /** Chunk tasks for `total` chunk ids: one partition per chunk, up to
    * twice the default parallelism. */
  private[graft] def taskPartitions(total: Long, sc: org.apache.spark.SparkContext): Int =
    math.max(1, math.min(total, sc.defaultParallelism * 2L)).toInt

  /** Most workers one in-process chunk loop runs: the cluster's default
    * parallelism, capped by the driver's own processors. */
  private[graft] def workerBound(sc: SparkContext): Int =
    math.max(1, math.min(sc.defaultParallelism, Runtime.getRuntime.availableProcessors))

  /** Workers for `total` chunks: one per chunk, up to [[workerBound]]. */
  private[graft] def chunkWorkers(total: Long, sc: SparkContext): Int =
    math.max(1L, math.min(total, workerBound(sc).toLong)).toInt

  /** The helper threads of [[forEachChunk]], shared by every call: one
    * fewer than the first caller's [[workerBound]] (each calling thread is
    * a worker too), daemon, and let go after 30 s idle. */
  private var pool: ThreadPoolExecutor = _
  private[graft] def chunkPool(sc: SparkContext): ThreadPoolExecutor = synchronized {
    if (pool == null) {
      val n = math.max(1, workerBound(sc) - 1)
      val made = new AtomicInteger(0)
      pool = new ThreadPoolExecutor(n, n, 30L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
        (r: Runnable) => {
          val t = new Thread(r, s"graft-chunk-worker-${made.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      pool.allowCoreThreadTimeOut(true)
    }
    pool
  }

  /** Run `body` over the ids `0 until total` on [[chunkWorkers]] threads:
    * the calling thread and helpers from [[chunkPool]] claim ids from one
    * counter, so nothing is enumerated. A helper still queued when the
    * caller runs out of ids is skipped, so a busy pool never stalls a
    * call. Returns when every worker that ran has stopped, which orders
    * their writes before the caller's next read. The first failure stops
    * the other workers after their current id and is rethrown unwrapped. */
  private[graft] def forEachChunk(total: Long, sc: SparkContext)(body: Long => Unit): Unit = {
    val next = new AtomicLong(0L)
    val failure = new AtomicReference[Throwable](null)
    def work(): Unit = {
      var id = next.getAndIncrement()
      while (id < total && failure.get() == null) {
        try body(id)
        catch { case t: Throwable => failure.compareAndSet(null, t) }
        id = next.getAndIncrement()
      }
    }
    val helpers = chunkWorkers(total, sc) - 1
    val unclaimed = new AtomicInteger(helpers)
    val done = new CountDownLatch(helpers)
    for (_ <- 0 until helpers)
      chunkPool(sc).execute(() => if (unclaimed.getAndDecrement() > 0) try work() finally done.countDown())
    work()
    while (unclaimed.getAndDecrement() > 0) done.countDown()
    // an interrupt stops the workers like a failure; the wait still
    // outlasts every running one
    var interrupted = false
    while (done.getCount > 0)
      try done.await()
      catch { case e: InterruptedException => failure.compareAndSet(null, e); interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
    if (failure.get() != null) throw failure.get()
  }

  private def field(name: String, t: DataType): StructField = StructField(name, t, nullable = false)
  private def ints(names: String*): Seq[StructField] = names.map(field(_, IntegerType))
  private def longs(names: String*): Seq[StructField] = names.map(field(_, LongType))
  /** A list of `t` structs; neither it nor its elements are null. */
  private def arrayOf(name: String, t: StructType): StructField =
    field(name, ArrayType(t, containsNull = false))
  /** The `(x, y, z)` voxel struct of the halo kernels' lists. */
  private val coordType: StructType = StructType(ints("x", "y", "z"))

  /** A body of [[CutBox.sweep]]: a trait of its own, not a `Function4`,
    * so the four indices reach it unboxed. */
  private trait Visit { def apply(lx: Int, ly: Int, lz: Int, i: Int): Unit }

  /** Where one unit step from a cut voxel lands ([[CutBox.steps]]). Only
    * the seam case is abstract: every kernel handles it, and a kernel that
    * needs no other case is a lambda. */
  private trait Step {
    /** Across a seam inside `query`, at global `(x, y, z)`, in the chunk
      * `(dcx, dcy, dcz)` grid steps from this one. */
    def seam(x: Int, y: Int, z: Int, dcx: Int, dcy: Int, dcz: Int): Unit
    /** In the cut, at local index `j` and global `(x, y, z)`. */
    def inCut(j: Int, x: Int, y: Int, z: Int): Unit = ()
    /** Outside `query`: background to erosion, no target to dilation. */
    def outside(): Unit = ()
  }

  /** A chunk slice's cut box as flat arrays indexed
    * `(lz * ny + ly) * nx + lx` — the view the halo kernels share, with
    * their one voxel loop ([[sweep]]) and their one neighbour probe
    * ([[steps]]). */
  private final class CutBox(val cut: Box) {
    val nx: Int = cut.x.len; val ny: Int = cut.y.len; val nz: Int = cut.z.len
    @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
    @inline def onFace(lx: Int, ly: Int, lz: Int): Boolean =
      lx == 0 || lx == nx - 1 || ly == 0 || ly == ny - 1 || lz == 0 || lz == nz - 1

    /** Visits every voxel of the cut, x fastest, with its local index. */
    def sweep(body: Visit): Unit = {
      var i = 0
      var lz = 0
      while (lz < nz) {
        var ly = 0
        while (ly < ny) {
          var lx = 0
          while (lx < nx) {
            body(lx, ly, lz, i)
            i += 1; lx += 1
          }
          ly += 1
        }
        lz += 1
      }
    }

    /** The six unit steps from cut voxel (lx, ly, lz), in the order −x, +x,
      * −y, +y, −z, +z. A step past the cut but inside `query` crosses a
      * seam: the cut is the chunk clipped to `query`, so the neighbour's
      * chunk differs only on the crossed axis. */
    def steps(lx: Int, ly: Int, lz: Int, query: Box, to: Step): Unit = {
      def step(dx: Int, dy: Int, dz: Int): Unit = {
        val tlx = lx + dx; val tly = ly + dy; val tlz = lz + dz
        val x = cut.x.lo + tlx; val y = cut.y.lo + tly; val z = cut.z.lo + tlz
        val dcx = if (tlx < 0) -1 else if (tlx >= nx) 1 else 0
        val dcy = if (tly < 0) -1 else if (tly >= ny) 1 else 0
        val dcz = if (tlz < 0) -1 else if (tlz >= nz) 1 else 0
        if (dcx == 0 && dcy == 0 && dcz == 0) to.inCut(li(tlx, tly, tlz), x, y, z)
        else if (query.x.contains(x) && query.y.contains(y) && query.z.contains(z))
          to.seam(x, y, z, dcx, dcy, dcz)
        else to.outside()
      }
      step(-1, 0, 0); step(1, 0, 0)
      step(0, -1, 0); step(0, 1, 0)
      step(0, 0, -1); step(0, 0, 1)
    }

    /** The foreground (nonzero) mask of `b` over the cut, float voxels read
      * as doubles, and its voxel count. */
    def mask(b: VoxelBuffer): (Array[Boolean], Long) = {
      val isFloat = b.dataType == TFloat32 || b.dataType == TFloat64
      val ox = cut.x.lo - b.origin._1; val oy = cut.y.lo - b.origin._2; val oz = cut.z.lo - b.origin._3
      val fg = new Array[Boolean](nx * ny * nz)
      var n = 0L
      sweep { (lx, ly, lz, i) =>
        fg(i) = if (isFloat) b.getDouble(ox + lx, oy + ly, oz + lz, 0) != 0.0
          else b.getLong(ox + lx, oy + ly, oz + lz, 0) != 0L
        if (fg(i)) n += 1
      }
      (fg, n)
    }

    /** The voxel values over the cut as Longs; zeros for a missing chunk. */
    def values(b: Option[VoxelBuffer]): Array[Long] = {
      val vs = new Array[Long](nx * ny * nz)
      for (b <- b) {
        val ox = cut.x.lo - b.origin._1; val oy = cut.y.lo - b.origin._2; val oz = cut.z.lo - b.origin._3
        sweep((lx, ly, lz, i) => vs(i) = b.getLong(ox + lx, oy + ly, oz + lz, 0))
      }
      vs
    }

    /** The erosion pass of [[Volume.localErode]] and [[Volume.localOpen]]
      * over foreground `fg`, cut from `query`. A voxel survives when it and
      * its six neighbours are foreground, a neighbour outside `query`
      * counting as background. A surviving interior voxel goes to
      * `inner(i)`. A face voxel whose in-cut neighbours pass and whose
      * other neighbours lie inside `query` goes to `cand(lx, ly, lz,
      * needs)`, with the across-seam neighbours the seam join must
      * confirm. Returns the foreground face voxels: the presence proofs
      * the neighbouring chunks' needs are confirmed against. */
    def erosion(fg: Array[Boolean], query: Box)(
        cand: (Int, Int, Int, Seq[Row]) => Unit, inner: Int => Unit): Seq[Row] = {
      val face = scala.collection.mutable.ArrayBuffer.empty[Row]
      val needs = scala.collection.mutable.ArrayBuffer.empty[Row]
      var alive = true
      val probe = new Step {
        def seam(x: Int, y: Int, z: Int, dcx: Int, dcy: Int, dcz: Int): Unit = needs += Row(x, y, z)
        override def inCut(j: Int, x: Int, y: Int, z: Int): Unit = if (!fg(j)) alive = false
        override def outside(): Unit = alive = false
      }
      sweep { (lx, ly, lz, i) =>
        if (fg(i)) {
          if (onFace(lx, ly, lz)) {
            face += Row(cut.x.lo + lx, cut.y.lo + ly, cut.z.lo + lz)
            alive = true; needs.clear()
            steps(lx, ly, lz, query, probe)
            if (alive) cand(lx, ly, lz, needs.toSeq)
          } else if (fg(i - 1) && fg(i + 1) && fg(i - nx) && fg(i + nx) &&
              fg(i - nx * ny) && fg(i + nx * ny)) inner(i)
        }
      }
      face.toSeq
    }
  }

  def widenedType(t: VoxelType): DataType = t match {
    case TBool => BooleanType
    case TUInt8 => ShortType
    case TUInt16 => IntegerType
    case TUInt32 => LongType
    case TUInt64 => DecimalType(20, 0)
    case TFloat32 => FloatType
    case TFloat64 => DoubleType
  }

  def widenedValue(t: VoxelType, b: VoxelBuffer, x: Int, y: Int, z: Int, c: Int): Any =
    t match {
      case TBool => b.getLong(x, y, z, c) != 0L
      case TUInt8 => b.getLong(x, y, z, c).toShort
      case TUInt16 => b.getLong(x, y, z, c).toInt
      case TUInt32 => b.getLong(x, y, z, c)
      case TUInt64 =>
        val bits = b.getLong(x, y, z, c)
        new java.math.BigDecimal(new java.math.BigInteger(java.lang.Long.toUnsignedString(bits)))
      case TFloat32 => b.getDouble(x, y, z, c).toFloat
      case TFloat64 => b.getDouble(x, y, z, c)
    }

  /** The widened representation of an integer voxel value (the
    * [[widenedValue]] mapping for a value already read as Long; integer
    * types only — float/u64 callers read through the buffer). */
  def widenedOf(t: VoxelType, v: Long): Any = t match {
    case TBool => v != 0L
    case TUInt8 => v.toShort
    case TUInt16 => v.toInt
    case TUInt32 => v
    case other => throw new IllegalArgumentException(s"widenedOf: integer types only, got $other")
  }

  def zeroValue(t: VoxelType): Any = t match {
    case TBool => false
    case TUInt8 => 0.toShort
    case TUInt16 => 0
    case TUInt32 => 0L
    case TUInt64 => java.math.BigDecimal.ZERO
    case TFloat32 => 0.0f
    case TFloat64 => 0.0
  }

  /** The `fromVoxels` value column: Long for the integer types, Decimal
    * for uint64 (its whole range, and past it, without wrapping), Double
    * for the float types (f32 to f64 is exact). */
  private def valueTransport(t: VoxelType, v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    t match {
      case TBool => when(v, 1L).otherwise(0L)
      case TUInt64 => v.cast(DecimalType(21, 0))
      case TFloat32 | TFloat64 => v.cast(DoubleType)
      case _ => v.cast(LongType)
    }

  /** Raw element bits of one `fromVoxels` row `(x, y, z, c, value)`. A
    * channel outside `[0, nc)` or a value the type cannot hold raises an
    * `IllegalArgumentException` naming the voxel, instead of indexing past
    * the chunk or being cut to the element width. */
  private def voxelBits(t: VoxelType, nc: Int,
      r: org.apache.spark.sql.catalyst.InternalRow): Long = {
    def reject(why: String): Nothing = {
      val v = if (r.isNullAt(4)) "null" else t match {
        case TFloat32 | TFloat64 => r.getDouble(4).toString
        case TUInt64 => r.getDecimal(4, 21, 0).toString
        case _ => r.getLong(4).toString
      }
      val ch = if (r.isNullAt(3)) "null" else r.getInt(3).toString
      throw new IllegalArgumentException(s"fromVoxels: voxel (x, y, z, c) = " +
        s"(${r.getInt(0)}, ${r.getInt(1)}, ${r.getInt(2)}, $ch) with value $v: $why")
    }
    if (r.isNullAt(3) || r.getInt(3) < 0 || r.getInt(3) >= nc)
      reject(s"channel outside [0, $nc) of this ${t.name} volume")
    if (r.isNullAt(4)) reject(s"a ${t.name} volume has no null voxel")
    t match {
      case TFloat32 => java.lang.Float.floatToRawIntBits(r.getDouble(4).toFloat) & 0xffffffffL
      case TFloat64 => java.lang.Double.doubleToRawLongBits(r.getDouble(4))
      case TUInt64 =>
        val v = r.getDecimal(4, 21, 0).toJavaBigDecimal.toBigInteger
        if (v.signum < 0 || v.bitLength > 64) reject("outside [0, 2^64) of this uint64 volume")
        v.longValue
      case _ =>
        val v = r.getLong(4)
        val hi = (1L << (8 * t.byteSize)) - 1
        if (v < 0 || v > hi) reject(s"outside [0, $hi] of this ${t.name} volume")
        v
    }
  }

  /** The voxels of one chunk that `fromVoxels` has gathered, as a byte
    * array, so the shuffle moves partials (and their Long chunk-id keys)
    * with Spark's Kryo serializer and no class metadata. Byte 0 gives the
    * form: sparse (0), a count and then entries of a cell index and the
    * element bytes, 4 + es bytes a voxel, while that is the smaller form;
    * then dense (1), the chunk's full grid cell in chunk layout, absent
    * voxels zero, and a presence bit per voxel that merging honours. */
  private[volume] final class PartialChunks(t: VoxelType, cellVoxels: Int) extends Serializable {
    private val es = t.byteSize; private val entry = 4 + es
    private val denseSize = 1L + cellVoxels.toLong * es + (cellVoxels + 7) / 8
    private def write(a: Array[Byte], off: Int, width: Int, v: Long): Unit = {
      var k = 0
      while (k < width) { a(off + k) = (v >>> 8 * k).toByte; k += 1 }
    }
    private def read(a: Array[Byte], off: Int, width: Int): Long = {
      var v = 0L; var k = 0
      while (k < width) { v |= (a(off + k) & 0xffL) << 8 * k; k += 1 }
      v
    }
    def one(v: (Int, Long)): Array[Byte] = add(new Array[Byte](5 + entry), v)
    def add(a: Array[Byte], v: (Int, Long)): Array[Byte] = put(a, v._1, v._2)
    private def put(a: Array[Byte], i: Int, bits: Long): Array[Byte] =
      if (a(0) == 1) {
        write(a, 1 + i * es, es, bits)
        val m = 1 + cellVoxels * es + i / 8
        a(m) = (a(m) | 1 << i % 8).toByte; a
      } else {
        val n = read(a, 1, 4).toInt
        if (5 + (n + 1) * entry <= a.length) {
          write(a, 5 + n * entry, 4, i); write(a, 9 + n * entry, es, bits); write(a, 1, 4, n + 1); a
        } else if (5L + (n + 1) * entry < denseSize)
          put(java.util.Arrays.copyOf(a, math.min(5L + 2L * n * entry, denseSize - 1).toInt), i, bits)
        else put(densify(a), i, bits)
      }
    /** The `(cell index, element bits)` pairs `a` holds. */
    private def entries(a: Array[Byte]): Iterator[(Int, Long)] =
      if (a(0) == 0) Iterator.range(0, read(a, 1, 4).toInt)
        .map(j => (read(a, 5 + j * entry, 4).toInt, read(a, 9 + j * entry, es)))
      else {
        val m = java.util.BitSet.valueOf(
          java.nio.ByteBuffer.wrap(a, 1 + cellVoxels * es, a.length - 1 - cellVoxels * es))
        Iterator.iterate(m.nextSetBit(0))(i => m.nextSetBit(i + 1)).takeWhile(_ >= 0)
          .map(i => (i, read(a, 1 + i * es, es)))
      }
    private def densify(a: Array[Byte]): Array[Byte] = {
      val d = new Array[Byte](denseSize.toInt); d(0) = 1
      entries(a).foldLeft(d) { case (d, (i, v)) => put(d, i, v) }
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
      if (a(0) == 0 && b(0) == 1) merge(b, a) else entries(b).foldLeft(a) { case (x, (i, v)) => put(x, i, v) }
    /** The cell's bytes in chunk layout, absent voxels zero. */
    def bytes(a: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOfRange(if (a(0) == 1) a else densify(a), 1, 1 + cellVoxels * es)
  }
}
