package graft.volume

import org.apache.spark.broadcast.Broadcast
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

  /** Decode a blob into a buffer anchored at the (clamped) chunk box.
    * Boundary chunks are stored partial — shape comes from the clamped box
    * (reference: src/modes/sequential.jl:43-48). */
  def decodeChunk(slice: ChunkSlice, blob: Array[Byte]): VoxelBuffer = {
    val b = slice.chunkBox
    val raw = keyStyle match {
      case "n5" => // raw header carries the clipped block dims; payload is big-endian
        val (dims, payload) = graft.core.N5Block.strip(blob)
        require(dims == ((b.x.len, b.y.len, b.z.len)),
          s"n5: block ${relKey(slice)} header dims $dims != chunk box (${b.x.len},${b.y.len},${b.z.len})")
        graft.core.N5Block.swapEndian(codec.decode(payload), dataType.byteSize)
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
      case _ => codec.decode(blob)
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
  * (reference: src/type.jl). Reads and writes are Spark jobs over the chunk
  * grid; the voxel view (`toVoxels`) is the bridge to the relational surface.
  *
  * Scale design notes (100 TB target):
  *  - chunk task sets are generated distributedly from a range of linear
  *    chunk ids (`spark.range` for the DataFrame operators,
  *    `sparkContext.range` for `cutout`) — no driver-side chunk
  *    enumeration, so a petavoxel cutout plans in O(1) driver memory;
  *  - `cutout` materializes on the driver (API parity with the reference's
  *    `ba[ranges...]`) and is guarded by a size cap — large reads should stay
  *    distributed via `toVoxels`. It is one plain RDD job (no Catalyst
  *    planning, no encoder round-trip), so a small cutout costs little more
  *    than its chunk I/O and decode;
  *  - `fromVoxels` shuffles voxels once, by chunk id (the only shuffle in the
  *    write path), then assembles and writes each chunk object in the task.
  *
  * Store conf: a handle snapshots its Hadoop store conf — connector settings
  * and the `graft.store.retry.*` policy included — at its first chunk job
  * (for the DataFrame operators: when the first such DataFrame is built),
  * and broadcasts it once. Later jobs ship only the broadcast reference, so
  * no task re-parses the conf. A conf change made after that is seen by a
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

  val scaleMeta: ScaleMeta = meta.scale(mip)

  val ctx: VolumeCtx = VolumeCtx(root, scaleMeta.key, scaleMeta.chunkSize,
    scaleMeta.voxelOffset, scaleMeta.volumeBox, meta.dataType, meta.numChannels,
    scaleMeta.encoding, fillMissing, keyStyle, padEdgeChunks, shard, mrc)

  /** The store conf every chunk task of this handle reads, broadcast once at
    * the handle's first chunk job (see the class notes). Closures capture it
    * through a local `val`, never through `this`. */
  @transient private[graft] lazy val confBc: Broadcast[ChunkStore.SerializableConf] =
    spark.sparkContext.broadcast(new ChunkStore.SerializableConf(
      ChunkStore.storeConf(spark.sessionState.newHadoopConf(), root, ctx.codec.name)))

  /** Number of chunks a box touches — counts grid cells in the bounding id
    * box, like the reference (src/type.jl:285-292). Pure math, no I/O. */
  def numChunks(query: Box): Long =
    if (query.isEmpty) 0L
    else Grid.idRanges(query, ctx.chunkSize, ctx.voxelOffset).total

  /** Distributed chunk-task table for a query box: one row per grid cell in
    * the pruned id range — the reference's ChunkIterator as a DataFrame
    * (reference: src/ChunkIterators.jl:9-42). Generated from `spark.range`,
    * so it never materializes on the driver. */
  def chunkTasks(query: Box): DataFrame = {
    val ids = Grid.idRanges(query, ctx.chunkSize, ctx.voxelOffset)
    // an empty query box yields negative-length id spans whose product can
    // be positive — decide emptiness on the box, then enumerate nothing
    if (query.isEmpty)
      return spark.range(0).select(lit(0).as("cx"), lit(0).as("cy"), lit(0).as("cz"))
    val parts = math.max(1, math.min(ids.total, spark.sparkContext.defaultParallelism * 2L)).toInt
    // `div` (integral division), not `/` (double division): exact for any id
    spark.range(0, ids.total, 1, parts).select(
      expr(s"cast(${ids.lox}L + (id % ${ids.nx}L) as int)").as("cx"),
      expr(s"cast(${ids.loy}L + ((id div ${ids.nx}L) % ${ids.ny}L) as int)").as("cy"),
      expr(s"cast(${ids.loz}L + (id div ${ids.nx * ids.ny}L) as int)").as("cz"))
  }

  /** N-d range read: the reference's `ba[x0:x1, y0:y1, z0:z1]`
    * (reference: src/type.jl:212-223). Returns a zero-initialized buffer
    * anchored at the query origin; out-of-volume / missing chunks stay zero.
    * Driver-side materialization is capped — use `toVoxels` for big boxes.
    *
    * One RDD job over the linear ids of the chunks the box touches inside
    * the volume: each task opens one FileSystem and streams its chunks
    * through fetch→decode→clip (the executor-side analog of the reference's
    * worker pipeline, src/modes/multithreads.jl:66-123), and the driver
    * blits each partition's pieces into the output as that partition's
    * result arrives. A box wholly outside the volume launches no job. */
  def cutout(query: Box, maxBytes: Long = Int.MaxValue - 64L): VoxelBuffer = {
    if (query.isEmpty)
      return VoxelBuffer.zeros(meta.dataType, 0, 0, 0, meta.numChannels,
        (query.x.lo, query.y.lo, query.z.lo))
    val bytesNeeded = query.numVoxels * meta.numChannels * meta.dataType.byteSize
    require(bytesNeeded <= maxBytes,
      s"cutout of $bytesNeeded bytes exceeds cap $maxBytes; use toVoxels for distributed processing")
    val out = VoxelBuffer.zeros(meta.dataType, query.x.len, query.y.len, query.z.len,
      meta.numChannels, (query.x.lo, query.y.lo, query.z.lo))
    // chunks off the volume hold nothing (sliceAt skips them), so the id
    // range is taken over the in-volume part of the box
    val inVolume = query.intersect(ctx.volumeBox)
    if (inVolume.isEmpty) return out
    val c = ctx; val conf = confBc
    val ids = Grid.idRanges(inVolume, c.chunkSize, c.voxelOffset)
    val sc = spark.sparkContext
    val parts = math.max(1, math.min(ids.total, sc.defaultParallelism * 2L)).toInt
    val pieces = sc.range(0L, ids.total, 1, parts).mapPartitions { linearIds =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      linearIds.flatMap { id =>
        val (cx, cy, cz) = ids.coords(id)
        c.sliceAt(cx, cy, cz, query).flatMap(s => c.readChunk(fs, s).map(_.slice(s.cutoutBox)))
      }
    }
    sc.runJob(pieces, (it: Iterator[VoxelBuffer]) => it.toArray,
      (_: Int, ps: Array[VoxelBuffer]) => ps.foreach(p => out.blit(p, p.box)))
    out
  }

  /** Spark schema of the voxel view, with unsigned types widened losslessly
    * (Spark has no unsigned ints): u8→Short, u16→Int, u32→Long,
    * u64→Decimal(20,0), f32→Float, f64→Double, bool→Boolean. */
  def voxelSchema: StructType = StructType(Seq(
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("z", IntegerType, nullable = false),
    StructField("c", IntegerType, nullable = false),
    StructField("value", Volume.widenedType(meta.dataType), nullable = false)))

  /** The distributed long-form view of a box: one row per voxel
    * `(x, y, z, c, value)` in global coordinates — what joins/aggregations
    * and the whole relational surface run on. Missing chunks yield zeros,
    * preserving the reference's fill semantics (src/modes/sequential.jl:52-54). */
  def toVoxels(query: Box): DataFrame = {
    val c = ctx; val conf = confBc
    val schema = voxelSchema
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val rows = chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, query).toSeq.flatMap { s =>
          val bufOpt = c.readChunk(fs, s)
          val cut = s.cutoutBox
          // iterator generators: never materialize a chunk's rows strictly
          for {
            ch <- (0 until c.numChannels).iterator
            z <- (cut.z.lo to cut.z.hi).iterator
            y <- (cut.y.lo to cut.y.hi).iterator
            x <- (cut.x.lo to cut.x.hi).iterator
          } yield {
            val v: Any = bufOpt match {
              case Some(b) =>
                val (lx, ly, lz) = (x - b.origin._1, y - b.origin._2, z - b.origin._3)
                Volume.widenedValue(c.dataType, b, lx, ly, lz, ch)
              case None => Volume.zeroValue(c.dataType)
            }
            Row(x, y, z, ch, v)
          }
        }
      }
    })(rowEnc)
    rows
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
    val (conf, conf2) = (confBc, other.confBc)
    val schema = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("z", IntegerType, nullable = false),
      StructField("va", Volume.widenedType(meta.dataType), nullable = false),
      StructField("vb", Volume.widenedType(other.meta.dataType), nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      val fs2 = ChunkStore.fs(c2.root, conf2.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        (c.sliceAt(cx, cy, cz, query), c2.sliceAt(cx, cy, cz, query)) match {
          case (Some(s), Some(s2)) =>
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
          case _ => Iterator.empty
        }
      }
    })(rowEnc)
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
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "localComponents: single-channel volumes only")
    require(query.x.lo >= 0 && query.x.hi < (1 << 20) &&
      query.y.lo >= 0 && query.y.hi < (1 << 20) &&
      query.z.lo >= 0 && query.z.hi < (1 << 20),
      s"localComponents: coords must lie in [0, 2^20) for linearized ids, got $query")
    val schema = StructType(Seq(
      StructField("prov", LongType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("x0", IntegerType, nullable = false),
      StructField("x1", IntegerType, nullable = false),
      StructField("y0", IntegerType, nullable = false),
      StructField("y1", IntegerType, nullable = false),
      StructField("z0", IntegerType, nullable = false),
      StructField("z1", IntegerType, nullable = false),
      StructField("face", ArrayType(StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("y", IntegerType, nullable = false),
        StructField("z", IntegerType, nullable = false))), containsNull = false),
        nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val isFloat = c.dataType == graft.core.Meta.TFloat32 || c.dataType == graft.core.Meta.TFloat64
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, query).iterator.flatMap { s =>
          c.readChunk(fs, s) match {
            case None => Iterator.empty // all-zero: no foreground
            case Some(b) =>
              val cut = s.cutoutBox
              val nx = cut.x.len; val ny = cut.y.len; val nz = cut.z.len
              // union-find over the cut box; -1 = background
              val parent = new Array[Int](nx * ny * nz)
              java.util.Arrays.fill(parent, -1)
              @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
              def find(i0: Int): Int = {
                var i = i0
                while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
                i
              }
              @inline def isFg(lx: Int, ly: Int, lz: Int): Boolean = {
                val bx = cut.x.lo - b.origin._1 + lx
                val by = cut.y.lo - b.origin._2 + ly
                val bz = cut.z.lo - b.origin._3 + lz
                if (isFloat) b.getDouble(bx, by, bz, 0) != 0.0
                else b.getLong(bx, by, bz, 0) != 0L
              }
              // pass 1: mark foreground, union each voxel with its already-
              // visited -x/-y/-z neighbors (x-fastest scan order)
              var lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    if (isFg(lx, ly, lz)) {
                      val i = li(lx, ly, lz)
                      parent(i) = i
                      @inline def union(j: Int): Unit = {
                        val ri = find(i); val rj = find(j)
                        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
                      }
                      if (lx > 0 && parent(li(lx - 1, ly, lz)) >= 0) union(li(lx - 1, ly, lz))
                      if (ly > 0 && parent(li(lx, ly - 1, lz)) >= 0) union(li(lx, ly - 1, lz))
                      if (lz > 0 && parent(li(lx, ly, lz - 1)) >= 0) union(li(lx, ly, lz - 1))
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
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
              lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    val i = li(lx, ly, lz)
                    if (parent(i) >= 0) {
                      val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                      val lin = (gz.toLong << 40) | (gy.toLong << 20) | gx.toLong
                      val a = accs.getOrElseUpdate(find(i).toLong, new Acc)
                      a.n += 1
                      if (lin < a.minLin) a.minLin = lin
                      if (gx < a.x0) a.x0 = gx; if (gx > a.x1) a.x1 = gx
                      if (gy < a.y0) a.y0 = gy; if (gy > a.y1) a.y1 = gy
                      if (gz < a.z0) a.z0 = gz; if (gz > a.z1) a.z1 = gz
                      if (lx == 0 || lx == nx - 1 || ly == 0 || ly == ny - 1 ||
                        lz == 0 || lz == nz - 1) a.face += Row(gx, gy, gz)
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              accs.values.iterator.map { a =>
                Row(a.minLin, a.n, a.x0, a.x1, a.y0, a.y1, a.z0, a.z1, a.face.toSeq)
              }
          }
        }
      }
    })(rowEnc)
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
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "localDilate: single-channel volumes only")
    val schema = StructType(Seq(
      StructField("cx", IntegerType, nullable = false),
      StructField("cy", IntegerType, nullable = false),
      StructField("cz", IntegerType, nullable = false),
      StructField("n_fg", LongType, nullable = false),
      StructField("n_dil", LongType, nullable = false),
      StructField("shell", ArrayType(StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("y", IntegerType, nullable = false),
        StructField("z", IntegerType, nullable = false))), containsNull = false),
        nullable = false),
      StructField("spill", ArrayType(StructType(Seq(
        StructField("tcx", IntegerType, nullable = false),
        StructField("tcy", IntegerType, nullable = false),
        StructField("tcz", IntegerType, nullable = false),
        StructField("x", IntegerType, nullable = false),
        StructField("y", IntegerType, nullable = false),
        StructField("z", IntegerType, nullable = false))), containsNull = false),
        nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val isFloat = c.dataType == graft.core.Meta.TFloat32 || c.dataType == graft.core.Meta.TFloat64
    val qbox = query
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).iterator.flatMap { s =>
          c.readChunk(fs, s) match {
            case None => Iterator.empty // all-background
            case Some(b) =>
              val cut = s.cutoutBox
              val nx = cut.x.len; val ny = cut.y.len; val nz = cut.z.len
              @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
              val fg = new Array[Boolean](nx * ny * nz)
              var nFg = 0L
              var lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    val bx = cut.x.lo - b.origin._1 + lx
                    val by = cut.y.lo - b.origin._2 + ly
                    val bz = cut.z.lo - b.origin._3 + lz
                    val v = if (isFloat) b.getDouble(bx, by, bz, 0) != 0.0
                      else b.getLong(bx, by, bz, 0) != 0L
                    if (v) { fg(li(lx, ly, lz)) = true; nFg += 1 }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              var nDil = 0L
              val shell = scala.collection.mutable.ArrayBuffer.empty[Row]
              val spill = scala.collection.mutable.ArrayBuffer.empty[Row]
              lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    val self = fg(li(lx, ly, lz))
                    val dil = self ||
                      (lx > 0 && fg(li(lx - 1, ly, lz))) ||
                      (lx < nx - 1 && fg(li(lx + 1, ly, lz))) ||
                      (ly > 0 && fg(li(lx, ly - 1, lz))) ||
                      (ly < ny - 1 && fg(li(lx, ly + 1, lz))) ||
                      (lz > 0 && fg(li(lx, ly, lz - 1))) ||
                      (lz < nz - 1 && fg(li(lx, ly, lz + 1)))
                    if (dil) {
                      nDil += 1
                      val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                      if (lx == 0 || lx == nx - 1 || ly == 0 || ly == ny - 1 ||
                        lz == 0 || lz == nz - 1) shell += Row(gx, gy, gz)
                    }
                    if (self) {
                      val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                      @inline def push(dcx: Int, dcy: Int, dcz: Int,
                          tx: Int, ty: Int, tz: Int): Unit = {
                        if (qbox.x.contains(tx) && qbox.y.contains(ty) && qbox.z.contains(tz))
                          spill += Row(cx + dcx, cy + dcy, cz + dcz, tx, ty, tz)
                        ()
                      }
                      if (lx == 0) push(-1, 0, 0, gx - 1, gy, gz)
                      if (lx == nx - 1) push(1, 0, 0, gx + 1, gy, gz)
                      if (ly == 0) push(0, -1, 0, gx, gy - 1, gz)
                      if (ly == ny - 1) push(0, 1, 0, gx, gy + 1, gz)
                      if (lz == 0) push(0, 0, -1, gx, gy, gz - 1)
                      if (lz == nz - 1) push(0, 0, 1, gx, gy, gz + 1)
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              Iterator.single(Row(cx, cy, cz, nFg, nDil, shell.toSeq, spill.toSeq))
          }
        }
      }
    })(rowEnc)
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
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "localErode: single-channel volumes only")
    val coord = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("z", IntegerType, nullable = false)))
    val schema = StructType(Seq(
      StructField("cx", IntegerType, nullable = false),
      StructField("cy", IntegerType, nullable = false),
      StructField("cz", IntegerType, nullable = false),
      StructField("n_fg", LongType, nullable = false),
      StructField("n_inner", LongType, nullable = false),
      StructField("cand", ArrayType(StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("y", IntegerType, nullable = false),
        StructField("z", IntegerType, nullable = false),
        StructField("needs", ArrayType(coord, containsNull = false), nullable = false))),
        containsNull = false), nullable = false),
      StructField("face", ArrayType(coord, containsNull = false), nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val isFloat = c.dataType == graft.core.Meta.TFloat32 || c.dataType == graft.core.Meta.TFloat64
    val qbox = query
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).iterator.flatMap { s =>
          c.readChunk(fs, s) match {
            case None => Iterator.empty // all-background
            case Some(b) =>
              val cut = s.cutoutBox
              val nx = cut.x.len; val ny = cut.y.len; val nz = cut.z.len
              @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
              val fg = new Array[Boolean](nx * ny * nz)
              var nFg = 0L
              var lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    val bx = cut.x.lo - b.origin._1 + lx
                    val by = cut.y.lo - b.origin._2 + ly
                    val bz = cut.z.lo - b.origin._3 + lz
                    val v = if (isFloat) b.getDouble(bx, by, bz, 0) != 0.0
                      else b.getLong(bx, by, bz, 0) != 0L
                    if (v) { fg(li(lx, ly, lz)) = true; nFg += 1 }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              var nInner = 0L
              val cand = scala.collection.mutable.ArrayBuffer.empty[Row]
              val face = scala.collection.mutable.ArrayBuffer.empty[Row]
              lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    if (fg(li(lx, ly, lz))) {
                      val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                      val onFace = lx == 0 || lx == nx - 1 || ly == 0 || ly == ny - 1 ||
                        lz == 0 || lz == nz - 1
                      if (onFace) face += Row(gx, gy, gz)
                      var localOk = true
                      var outOfBox = false
                      val needs = scala.collection.mutable.ArrayBuffer.empty[Row]
                      @inline def probe(dlx: Int, dly: Int, dlz: Int): Unit = {
                        val tlx = lx + dlx; val tly = ly + dly; val tlz = lz + dlz
                        if (tlx >= 0 && tlx < nx && tly >= 0 && tly < ny &&
                          tlz >= 0 && tlz < nz) {
                          if (!fg(li(tlx, tly, tlz))) localOk = false
                        } else {
                          val tx = gx + dlx; val ty = gy + dly; val tz = gz + dlz
                          if (qbox.x.contains(tx) && qbox.y.contains(ty) && qbox.z.contains(tz))
                            needs += Row(tx, ty, tz)
                          else outOfBox = true // background by definition
                        }
                        ()
                      }
                      probe(-1, 0, 0); probe(1, 0, 0)
                      probe(0, -1, 0); probe(0, 1, 0)
                      probe(0, 0, -1); probe(0, 0, 1)
                      if (localOk && !outOfBox) {
                        if (needs.isEmpty) nInner += 1
                        else cand += Row(gx, gy, gz, needs.toSeq)
                      }
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              Iterator.single(Row(cx, cy, cz, nFg, nInner, cand.toSeq, face.toSeq))
          }
        }
      }
    })(rowEnc)
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
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "localOpen: single-channel volumes only")
    val coord = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("z", IntegerType, nullable = false)))
    val target = StructType(Seq(
      StructField("tcx", IntegerType, nullable = false),
      StructField("tcy", IntegerType, nullable = false),
      StructField("tcz", IntegerType, nullable = false),
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("z", IntegerType, nullable = false)))
    val schema = StructType(Seq(
      StructField("cx", IntegerType, nullable = false),
      StructField("cy", IntegerType, nullable = false),
      StructField("cz", IntegerType, nullable = false),
      StructField("n_fg", LongType, nullable = false),
      StructField("n_open_loc", LongType, nullable = false),
      StructField("rim", ArrayType(coord, containsNull = false), nullable = false),
      StructField("cand", ArrayType(StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("y", IntegerType, nullable = false),
        StructField("z", IntegerType, nullable = false),
        StructField("needs", ArrayType(coord, containsNull = false), nullable = false),
        StructField("targets", ArrayType(target, containsNull = false), nullable = false))),
        containsNull = false), nullable = false),
      StructField("face", ArrayType(coord, containsNull = false), nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val isFloat = c.dataType == graft.core.Meta.TFloat32 || c.dataType == graft.core.Meta.TFloat64
    val qbox = query
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).iterator.flatMap { s =>
          c.readChunk(fs, s) match {
            case None => Iterator.empty // all-background
            case Some(b) =>
              val cut = s.cutoutBox
              val nx = cut.x.len; val ny = cut.y.len; val nz = cut.z.len
              @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
              val fg = new Array[Boolean](nx * ny * nz)
              var nFg = 0L
              var lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    val bx = cut.x.lo - b.origin._1 + lx
                    val by = cut.y.lo - b.origin._2 + ly
                    val bz = cut.z.lo - b.origin._3 + lz
                    val v = if (isFloat) b.getDouble(bx, by, bz, 0) != 0.0
                      else b.getLong(bx, by, bz, 0) != 0L
                    if (v) { fg(li(lx, ly, lz)) = true; nFg += 1 }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              // pass 1: interior erosion (non-face voxels — all 6 probes
              // in-cut) and face candidates with needs + owner-resolved
              // dilation targets
              val opened = new Array[Boolean](nx * ny * nz)
              val cand = scala.collection.mutable.ArrayBuffer.empty[Row]
              val face = scala.collection.mutable.ArrayBuffer.empty[Row]
              lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    if (fg(li(lx, ly, lz))) {
                      val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                      val onFace = lx == 0 || lx == nx - 1 || ly == 0 || ly == ny - 1 ||
                        lz == 0 || lz == nz - 1
                      if (onFace) {
                        face += Row(gx, gy, gz)
                        // face candidate: in-cut neighbors must pass; out-of-
                        // cut neighbors inside the box become needs; an
                        // out-of-box neighbor is background → dead
                        var localOk = true
                        var outOfBox = false
                        val needs = scala.collection.mutable.ArrayBuffer.empty[Row]
                        @inline def probe(dlx: Int, dly: Int, dlz: Int): Unit = {
                          val tlx = lx + dlx; val tly = ly + dly; val tlz = lz + dlz
                          if (tlx >= 0 && tlx < nx && tly >= 0 && tly < ny &&
                            tlz >= 0 && tlz < nz) {
                            if (!fg(li(tlx, tly, tlz))) localOk = false
                          } else {
                            val tx = gx + dlx; val ty = gy + dly; val tz = gz + dlz
                            if (qbox.x.contains(tx) && qbox.y.contains(ty) && qbox.z.contains(tz))
                              needs += Row(tx, ty, tz)
                            else outOfBox = true
                          }
                          ()
                        }
                        probe(-1, 0, 0); probe(1, 0, 0)
                        probe(0, -1, 0); probe(0, 1, 0)
                        probe(0, 0, -1); probe(0, 0, 1)
                        if (localOk && !outOfBox) {
                          // all 7 dilation targets are in-box (an in-box
                          // eroded voxel's neighbors are in-box — its
                          // out-of-box neighbors would have killed it);
                          // owner chunk shifts only on the crossed axis
                          val targets = scala.collection.mutable.ArrayBuffer.empty[Row]
                          @inline def tgt(dlx: Int, dly: Int, dlz: Int): Unit = {
                            val tlx = lx + dlx; val tly = ly + dly; val tlz = lz + dlz
                            val dcx = if (tlx < 0) -1 else if (tlx >= nx) 1 else 0
                            val dcy = if (tly < 0) -1 else if (tly >= ny) 1 else 0
                            val dcz = if (tlz < 0) -1 else if (tlz >= nz) 1 else 0
                            targets += Row(cx + dcx, cy + dcy, cz + dcz,
                              gx + dlx, gy + dly, gz + dlz)
                            ()
                          }
                          tgt(0, 0, 0)
                          tgt(-1, 0, 0); tgt(1, 0, 0)
                          tgt(0, -1, 0); tgt(0, 1, 0)
                          tgt(0, 0, -1); tgt(0, 0, 1)
                          cand += Row(gx, gy, gz, needs.toSeq, targets.toSeq)
                        }
                      } else {
                        // interior voxel: erosion fully local
                        var ok = true
                        if (!fg(li(lx - 1, ly, lz)) || !fg(li(lx + 1, ly, lz)) ||
                          !fg(li(lx, ly - 1, lz)) || !fg(li(lx, ly + 1, lz)) ||
                          !fg(li(lx, ly, lz - 1)) || !fg(li(lx, ly, lz + 1))) ok = false
                        if (ok) {
                          // dilate the interior-eroded voxel: all 7 in-cut
                          opened(li(lx, ly, lz)) = true
                          opened(li(lx - 1, ly, lz)) = true
                          opened(li(lx + 1, ly, lz)) = true
                          opened(li(lx, ly - 1, lz)) = true
                          opened(li(lx, ly + 1, lz)) = true
                          opened(li(lx, ly, lz - 1)) = true
                          opened(li(lx, ly, lz + 1)) = true
                        }
                      }
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              var nOpenLoc = 0L
              val rim = scala.collection.mutable.ArrayBuffer.empty[Row]
              lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    if (opened(li(lx, ly, lz))) {
                      nOpenLoc += 1
                      if (lx <= 1 || lx >= nx - 2 || ly <= 1 || ly >= ny - 2 ||
                        lz <= 1 || lz >= nz - 2)
                        rim += Row(cut.x.lo + lx, cut.y.lo + ly, cut.z.lo + lz)
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              Iterator.single(Row(cx, cy, cz, nFg, nOpenLoc, rim.toSeq, cand.toSeq, face.toSeq))
          }
        }
      }
    })(rowEnc)
  }

  /** Per-chunk ZONE-MAP statistics — the parquet-footer idea applied to
    * the chunk store: one (cx, cy, cz, vmin, vmax, n) row per chunk of
    * `query`, from one decode pass. Built ONCE (an ingest-time or
    * maintenance artifact — chunk-grain, so petavoxel volumes yield a
    * megabyte-scale relation), it lets predicate scans skip whole chunks
    * without fetching them ([[toVoxelsAtLeast]]). Missing chunks report
    * (0, 0) under fillMissing. Integer single-channel volumes only. */
  def chunkStats(query: Box): DataFrame = {
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "chunkStats: single-channel volumes only")
    require(c.dataType != graft.core.Meta.TFloat32 && c.dataType != graft.core.Meta.TFloat64,
      "chunkStats: integer volumes only")
    val schema = StructType(Seq(
      StructField("cx", IntegerType, nullable = false),
      StructField("cy", IntegerType, nullable = false),
      StructField("cz", IntegerType, nullable = false),
      StructField("vmin", LongType, nullable = false),
      StructField("vmax", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val qbox = query
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).iterator.map { s =>
          val cut = s.cutoutBox
          val nTot = cut.x.len.toLong * cut.y.len * cut.z.len
          c.readChunk(fs, s) match {
            case None => Row(cx, cy, cz, 0L, 0L, nTot)
            case Some(b) =>
              var mn = Long.MaxValue; var mx = Long.MinValue
              var z = cut.z.lo
              while (z <= cut.z.hi) {
                var y = cut.y.lo
                while (y <= cut.y.hi) {
                  var x = cut.x.lo
                  while (x <= cut.x.hi) {
                    val v = b.getLong(x - b.origin._1, y - b.origin._2, z - b.origin._3, 0)
                    if (v < mn) mn = v
                    if (v > mx) mx = v
                    x += 1
                  }
                  y += 1
                }
                z += 1
              }
              Row(cx, cy, cz, mn, mx, nTot)
          }
        }
      }
    })(rowEnc)
  }

  /** Zone-map-PRUNED predicate scan: voxels of `query` with `value ≥ t`,
    * reading ONLY chunks whose [[chunkStats]] `vmax` admits a match — the
    * chunk-store analogue of parquet row-group skipping, the difference
    * between touching every blob and touching the qualifying few when a
    * threshold query (bright-spot detection, label presence) is selective.
    * Pass a pre-built `stats` relation to reuse the at-rest artifact (the
    * production shape — stats built once at ingest, served to every
    * query); by default the stats pass runs inline. The surviving task
    * list joins chunk tasks BROADCAST (stats are chunk-grain metadata,
    * megabytes at petavoxel scale), and pruned chunks are never fetched
    * (spec-proven: deleting them from the store does not disturb the
    * pruned scan). Integer single-channel volumes only. */
  def toVoxelsAtLeast(query: Box, t: Long, stats: Option[DataFrame] = None): DataFrame = {
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "toVoxelsAtLeast: single-channel volumes only")
    val kept = stats.getOrElse(chunkStats(query))
      .filter(col("vmax") >= t).select(col("cx"), col("cy"), col("cz"))
    val tasks = chunkTasks(query)
      .join(org.apache.spark.sql.functions.broadcast(kept), Seq("cx", "cy", "cz"))
    val schema = voxelSchema
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val qbox = query
    tasks.as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).toSeq.flatMap { s =>
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
    })(rowEnc)
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
    * The caller ([[graft.ops.ArrayOps.a29_blur]]) joins needs→vals on the
    * neighbor coordinate, re-groups per voxel to finish `⌊s/c⌋`, and folds
    * everything per z — O(surface) rows move, the voxel relation never
    * shuffles. A missing chunk reads as zeros (fill-missing semantics),
    * still contributing its geometry. Integer volumes only. */
  def localBlur(query: Box): DataFrame = {
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "localBlur: single-channel volumes only")
    require(c.dataType != graft.core.Meta.TFloat32 && c.dataType != graft.core.Meta.TFloat64,
      "localBlur: integer volumes only (exact ⌊s/c⌋ gate semantics)")
    val schema = StructType(Seq(
      StructField("cx", IntegerType, nullable = false),
      StructField("cy", IntegerType, nullable = false),
      StructField("cz", IntegerType, nullable = false),
      StructField("zsums", ArrayType(StructType(Seq(
        StructField("z", IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("s", LongType, nullable = false))), containsNull = false),
        nullable = false),
      StructField("needs", ArrayType(StructType(Seq(
        StructField("px", IntegerType, nullable = false),
        StructField("py", IntegerType, nullable = false),
        StructField("pz", IntegerType, nullable = false),
        StructField("s0", LongType, nullable = false),
        StructField("c", IntegerType, nullable = false),
        StructField("tx", IntegerType, nullable = false),
        StructField("ty", IntegerType, nullable = false),
        StructField("tz", IntegerType, nullable = false))), containsNull = false),
        nullable = false),
      StructField("vals", ArrayType(StructType(Seq(
        StructField("x", IntegerType, nullable = false),
        StructField("y", IntegerType, nullable = false),
        StructField("z", IntegerType, nullable = false),
        StructField("v", LongType, nullable = false))), containsNull = false),
        nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val qbox = query
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).iterator.map { s =>
          val bOpt = c.readChunk(fs, s) // None: zero-filled cut
          val cut = s.cutoutBox
          val nx = cut.x.len; val ny = cut.y.len; val nz = cut.z.len
          @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
          val vv = new Array[Long](nx * ny * nz)
          bOpt.foreach { b =>
            var lz = 0
            while (lz < nz) {
              var ly = 0
              while (ly < ny) {
                var lx = 0
                while (lx < nx) {
                  vv(li(lx, ly, lz)) = b.getLong(
                    cut.x.lo - b.origin._1 + lx, cut.y.lo - b.origin._2 + ly,
                    cut.z.lo - b.origin._3 + lz, 0)
                  lx += 1
                }
                ly += 1
              }
              lz += 1
            }
          }
          val zn = new Array[Long](nz); val zs = new Array[Long](nz)
          val needs = scala.collection.mutable.ArrayBuffer.empty[Row]
          val vals = scala.collection.mutable.ArrayBuffer.empty[Row]
          var lz = 0
          while (lz < nz) {
            var ly = 0
            while (ly < ny) {
              var lx = 0
              while (lx < nx) {
                val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                var s0 = vv(li(lx, ly, lz))
                var cTot = 1
                val miss = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
                @inline def probe(dlx: Int, dly: Int, dlz: Int): Unit = {
                  val tx = gx + dlx; val ty = gy + dly; val tz = gz + dlz
                  if (qbox.x.contains(tx) && qbox.y.contains(ty) && qbox.z.contains(tz)) {
                    cTot += 1
                    val tlx = lx + dlx; val tly = ly + dly; val tlz = lz + dlz
                    if (tlx >= 0 && tlx < nx && tly >= 0 && tly < ny && tlz >= 0 && tlz < nz)
                      s0 += vv(li(tlx, tly, tlz))
                    else miss += ((tx, ty, tz))
                  }
                  ()
                }
                probe(-1, 0, 0); probe(1, 0, 0)
                probe(0, -1, 0); probe(0, 1, 0)
                probe(0, 0, -1); probe(0, 0, 1)
                if (miss.isEmpty) {
                  zn(lz) += 1
                  zs(lz) += Math.floorDiv(s0, cTot.toLong)
                } else {
                  miss.foreach { case (tx, ty, tz) =>
                    needs += Row(gx, gy, gz, s0, cTot, tx, ty, tz)
                  }
                }
                if (lx == 0 || lx == nx - 1 || ly == 0 || ly == ny - 1 ||
                  lz == 0 || lz == nz - 1)
                  vals += Row(gx, gy, gz, vv(li(lx, ly, lz)))
                lx += 1
              }
              ly += 1
            }
            lz += 1
          }
          val zsums = (0 until nz).filter(zn(_) > 0)
            .map(i => Row(cut.z.lo + i, zn(i), zs(i)))
          Row(cx, cy, cz, zsums, needs.toSeq, vals.toSeq)
        }
      }
    })(rowEnc)
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
    val c = ctx; val conf = confBc
    require(c.numChannels == 1, "localContacts: single-channel volumes only")
    require(c.dataType != graft.core.Meta.TFloat32 && c.dataType != graft.core.Meta.TFloat64,
      "localContacts: integer label volumes only")
    val labeled = StructType(Seq(
      StructField("x", IntegerType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("z", IntegerType, nullable = false),
      StructField("label", LongType, nullable = false)))
    val schema = StructType(Seq(
      StructField("cx", IntegerType, nullable = false),
      StructField("cy", IntegerType, nullable = false),
      StructField("cz", IntegerType, nullable = false),
      StructField("pairs", ArrayType(StructType(Seq(
        StructField("la", LongType, nullable = false),
        StructField("lb", LongType, nullable = false),
        StructField("n", LongType, nullable = false))), containsNull = false),
        nullable = false),
      StructField("probe", ArrayType(labeled, containsNull = false), nullable = false),
      StructField("negface", ArrayType(labeled, containsNull = false), nullable = false)))
    val rowEnc = Encoders.row(schema)
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val qbox = query
    chunkTasks(query).as(taskEnc).mapPartitions({ it =>
      val fs = ChunkStore.fs(c.root, conf.value.conf)
      it.flatMap { case (cx, cy, cz) =>
        c.sliceAt(cx, cy, cz, qbox).iterator.flatMap { s =>
          c.readChunk(fs, s) match {
            case None => Iterator.empty // all-background
            case Some(b) =>
              val cut = s.cutoutBox
              val nx = cut.x.len; val ny = cut.y.len; val nz = cut.z.len
              @inline def li(lx: Int, ly: Int, lz: Int): Int = (lz * ny + ly) * nx + lx
              val lab = new Array[Long](nx * ny * nz)
              var lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    lab(li(lx, ly, lz)) = b.getLong(
                      cut.x.lo - b.origin._1 + lx, cut.y.lo - b.origin._2 + ly,
                      cut.z.lo - b.origin._3 + lz, 0)
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              val pairCnt = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
              val probe = scala.collection.mutable.ArrayBuffer.empty[Row]
              val negface = scala.collection.mutable.ArrayBuffer.empty[Row]
              @inline def addPair(a: Long, bb: Long): Unit = {
                val k = if (a < bb) (a, bb) else (bb, a)
                pairCnt.update(k, pairCnt.getOrElse(k, 0L) + 1L)
              }
              lz = 0
              while (lz < nz) {
                var ly = 0
                while (ly < ny) {
                  var lx = 0
                  while (lx < nx) {
                    val v = lab(li(lx, ly, lz))
                    if (v != 0L) {
                      val gx = cut.x.lo + lx; val gy = cut.y.lo + ly; val gz = cut.z.lo + lz
                      // local +x/+y/+z pairs — each counted exactly once
                      if (lx + 1 < nx) { val n = lab(li(lx + 1, ly, lz)); if (n != 0L && n != v) addPair(v, n) }
                      if (ly + 1 < ny) { val n = lab(li(lx, ly + 1, lz)); if (n != 0L && n != v) addPair(v, n) }
                      if (lz + 1 < nz) { val n = lab(li(lx, ly, lz + 1)); if (n != 0L && n != v) addPair(v, n) }
                      // forward halo: positive faces push a probe across the seam
                      if (lx == nx - 1 && qbox.x.contains(gx + 1)) probe += Row(gx + 1, gy, gz, v)
                      if (ly == ny - 1 && qbox.y.contains(gy + 1)) probe += Row(gx, gy + 1, gz, v)
                      if (lz == nz - 1 && qbox.z.contains(gz + 1)) probe += Row(gx, gy, gz + 1, v)
                      // backward presence: negative faces are probe targets
                      if (lx == 0 || ly == 0 || lz == 0) negface += Row(gx, gy, gz, v)
                    }
                    lx += 1
                  }
                  ly += 1
                }
                lz += 1
              }
              val pairs = pairCnt.toSeq.sortBy(_._1)
                .map { case ((a, bb), n) => Row(a, bb, n) }
              Iterator.single(Row(cx, cy, cz, pairs, probe.toSeq, negface.toSeq))
          }
        }
      }
    })(rowEnc)
  }

  /** The whole volume as a Catalyst-native voxel relation: a custom
    * `VoxelScan` leaf whose box is narrowed by the `PushBoxFilters`
    * optimizer rule, so `voxels().filter($"x".between(a, b) && ...)` prunes
    * chunk I/O exactly like a `cutout` of that box. Requires the
    * GraftExtensions rule/strategy (see graft.plans.GraftExtensions). */
  def voxels(): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val attrs = voxelSchema.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    org.apache.spark.sql.graftshim.shim.dataFrame(spark,
      graft.plans.VoxelScan(ctx, ctx.volumeBox, attrs))
  }

  /** Driver-buffer ingest: the reference's `ba[ranges...] = buf`
    * (reference: src/type.jl:137-150). Enforces chunk-aligned write starts
    * like the reference (src/modes/multithreads.jl:45-47: alignment uses the
    * raw voxel offset), clamps at the volume boundary, slices/encodes/puts
    * one object per chunk. The buffer ships to executors via broadcast —
    * fine for cutout-sized writes; use `fromVoxels` for bulk loads.
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
    val c = ctx; val conf = confBc
    val bufBc = spark.sparkContext.broadcast(buf)
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
    val taskEnc = Encoders.product[(Int, Int, Int)]
    val written = c.shard match {
      case None =>
        chunkTasks(q).as(taskEnc).mapPartitions({ it =>
          val fs = ChunkStore.fs(c.root, conf.value.conf)
          val b = bufBc.value
          it.flatMap { case (cx, cy, cz) =>
            c.sliceAt(cx, cy, cz, q).map { s =>
              ChunkStore.write(fs, c.root, c.keyOf(s),
                encodeCovered(b, s, c.fetchChunk(fs, s)))
              1
            }
          }
        })(Encoders.scalaInt)
      case Some(p) =>
        // sharded: ALL inner chunks of one shard object must be written
        // together (per-cell writes would clobber each other), so tasks
        // group by shard key — one assembled PUT per shard, inner cells
        // untouched by the write preserved from the existing object
        chunkTasks(q).as(taskEnc)
          .groupByKey { case (cx, cy, cz) => c.shardCoords(cx, cy, cz) }(taskEnc)
          .mapGroups({ (_: (Int, Int, Int), cells: Iterator[(Int, Int, Int)]) =>
            val fs = ChunkStore.fs(c.root, conf.value.conf)
            val b = bufBc.value
            var shardKey: String = null
            var inner = Map.empty[Int, Array[Byte]]
            var loadedExisting = false
            var n = 0
            cells.foreach { case (cx, cy, cz) =>
              c.sliceAt(cx, cy, cz, q).foreach { s =>
                if (!loadedExisting) {
                  shardKey = c.shardKeyOf(s)
                  inner = ChunkStore.readOpt(fs, c.root, shardKey)
                    .map(graft.core.Shard.parseAll(p, _)).getOrElse(Map.empty)
                  loadedExisting = true
                }
                val (wx, wy, wz) = c.innerCoords(s)
                val cell = p.linear(wx, wy, wz)
                inner += (cell -> encodeCovered(b, s, inner.get(cell)))
                n += 1
              }
            }
            if (shardKey != null) {
              ChunkStore.write(fs, c.root, shardKey, graft.core.Shard.build(p, inner))
              graft.core.Shard.invalidate(c.root, shardKey)
            }
            n
          })(Encoders.scalaInt)
    }
    written.toDF("n").agg(coalesce(sum(col("n")), lit(0L))).head // force the job
    bufBc.destroy()
  }

  /** Bulk distributed ingest from a voxel DataFrame `(x, y, z[, c], value)`.
    * One shuffle (by chunk id), then per-chunk assembly + encode + put.
    * Whole chunks are written: voxels absent from the input within a touched
    * chunk become zero. Values outside the volume box are dropped (boundary
    * clamp). Same single-writer-per-object contract as [[ingest]]: for
    * sharded layouts concurrent jobs must target disjoint SHARDS, not just
    * disjoint chunks. */
  def fromVoxels(df: DataFrame): Long = {
    val c = ctx; val conf = confBc
    val (csx, csy, csz) = ctx.chunkSize
    val ox = Grid.gridOffset(c.voxelOffset._1, csx)
    val oy = Grid.gridOffset(c.voxelOffset._2, csy)
    val oz = Grid.gridOffset(c.voxelOffset._3, csz)
    val withC = if (df.columns.contains("c")) df else df.withColumn("c", lit(0))
    val vb = c.volumeBox
    val isFloat = meta.dataType == Meta.TFloat32 || meta.dataType == Meta.TFloat64
    // transport: Long for integer types, Double for float types (f32→f64 is
    // exact). Avoids any UDF in the shuffled projection.
    val vLong = Volume.valueAsLong(meta.dataType, col("value"))
    val vDbl = if (isFloat) col("value").cast(DoubleType) else lit(0.0)
    val prepared = withC
      .filter(col("x").between(vb.x.lo, vb.x.hi) && col("y").between(vb.y.lo, vb.y.hi) &&
        col("z").between(vb.z.lo, vb.z.hi))
      .select(
        floor((col("x") - 1 - ox) / csx).cast(IntegerType).plus(1).as("cx"),
        floor((col("y") - 1 - oy) / csy).cast(IntegerType).plus(1).as("cy"),
        floor((col("z") - 1 - oz) / csz).cast(IntegerType).plus(1).as("cz"),
        col("x").cast(IntegerType), col("y").cast(IntegerType), col("z").cast(IntegerType),
        col("c").cast(IntegerType), vLong.as("vl"), vDbl.as("vd"))
    implicit val enc = Encoders.product[(Int, Int, Int, Int, Int, Int, Int, Long, Double)]
    type Vox = (Int, Int, Int, Int, Int, Int, Int, Long, Double)
    /** Assemble one whole chunk from its voxels (absent voxels = zero). */
    def assemble(s: Grid.ChunkSlice, voxels: Iterator[Vox]): VoxelBuffer = {
      val b = s.chunkBox
      val chunkBuf = VoxelBuffer.zeros(c.dataType, b.x.len, b.y.len, b.z.len,
        c.numChannels, (b.x.lo, b.y.lo, b.z.lo))
      voxels.foreach { case (_, _, _, x, y, z, ch, vl, vd) =>
        if (b.x.contains(x) && b.y.contains(y) && b.z.contains(z)) {
          if (isFloat) chunkBuf.setDouble(x - b.x.lo, y - b.y.lo, z - b.z.lo, ch, vd)
          else chunkBuf.setLong(x - b.x.lo, y - b.y.lo, z - b.z.lo, ch, vl)
        }
      }
      chunkBuf
    }
    val ds = prepared.as[Vox]
    val results = c.shard match {
      case None =>
        ds.groupByKey { case (cx, cy, cz, _, _, _, _, _, _) => (cx, cy, cz) }(Encoders.product[(Int, Int, Int)])
          .mapGroups((key: (Int, Int, Int), voxels: Iterator[Vox]) => {
            val (cx, cy, cz) = key
            val fs = ChunkStore.fs(c.root, conf.value.conf)
            // whole-box query so sliceAt clamps to the volume only
            c.sliceAt(cx, cy, cz, c.volumeBox) match {
              case Some(s) =>
                ChunkStore.write(fs, c.root, c.keyOf(s), c.encodeChunk(assemble(s, voxels)))
                1L
              case None => 0L
            }
          })(Encoders.scalaLong)
      case Some(p) =>
        // sharded: the storage unit is the SHARD object (a chunk-grain
        // write would have concurrent tasks clobbering one object), but
        // buffering a whole shard's VOXELS in one task would not survive
        // production shard sizes. Two stages instead: (1) chunk-grain
        // groups stream their voxels into encoded inner-chunk blobs —
        // bounded by ONE chunk buffer per task, same memory contract as
        // the per-chunk path; (2) shard-grain groups compose the
        // (compressed, shard-object-sized) blobs and rewrite each shard
        // once, cells outside the input preserved from the existing
        // object.
        implicit val blobEnc = Encoders.product[(Int, Int, Int, Int, Array[Byte])]
        val encoded = ds
          .groupByKey { case (cx, cy, cz, _, _, _, _, _, _) => (cx, cy, cz) }(
            Encoders.product[(Int, Int, Int)])
          .flatMapGroups((key: (Int, Int, Int), voxels: Iterator[Vox]) => {
            val (cx, cy, cz) = key
            c.sliceAt(cx, cy, cz, c.volumeBox).map { s =>
              val (sx, sy, sz) = c.shardCoords(cx, cy, cz)
              val (wx, wy, wz) = c.innerCoords(s)
              (sx, sy, sz, p.linear(wx, wy, wz), c.encodeChunk(assemble(s, voxels)))
            }.iterator
          })
        encoded
          .groupByKey { case (sx, sy, sz, _, _) => (sx, sy, sz) }(
            Encoders.product[(Int, Int, Int)])
          .mapGroups((sk: (Int, Int, Int), blobs: Iterator[(Int, Int, Int, Int, Array[Byte])]) => {
            val fs = ChunkStore.fs(c.root, conf.value.conf)
            val (sx, sy, sz) = sk
            val shardKey = c.shardKeyAt(sx, sy, sz)
            var inner = ChunkStore.readOpt(fs, c.root, shardKey)
              .map(graft.core.Shard.parseAll(p, _)).getOrElse(Map.empty)
            var n = 0L
            blobs.foreach { case (_, _, _, cell, bytes) =>
              inner += (cell -> bytes); n += 1
            }
            ChunkStore.write(fs, c.root, shardKey, graft.core.Shard.build(p, inner))
            graft.core.Shard.invalidate(c.root, shardKey)
            n
          })(Encoders.scalaLong)
    }
    // empty-safe sum (reduce throws on an empty Dataset — e.g. every voxel
    // filtered out by the volume-box bounds)
    val total = results.toDF("n").agg(coalesce(sum(col("n")), lit(0L))).head.getLong(0)
    total
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
    val c = ctx; val conf = confBc
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
        val fs = ChunkStore.fs(c.root, conf.value.conf)
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
    *    arithmetic chunk grid — the expected cells come from `chunkTasks`
    *    (never materialized on the driver) and each executor probes its
    *    own cells. O(cells) HEADs; nothing lists the store.
    *  - LISTING (`auto` above [[PrecomputedScan.ListingThreshold]] cells,
    *    non-sharded): LIST the present chunks (O(objects), bounded per-
    *    column globs) and anti-join the expected grid — the sparse-store
    *    plan, where a mostly-empty 100 TB store would otherwise pay an
    *    existence probe per EMPTY cell.
    *
    *  Sharded stores always probe: `chunkExists` reads the per-shard index
    *  (one cached GET per shard, then in-memory lookups per cell), already
    *  O(shard objects) I/O. */
  def missingChunks(query: Box, planning: String = "auto"): Dataset[String] = {
    val c = ctx; val conf = confBc
    implicit val se = Encoders.STRING
    val useListing = planning match {
      case "listing" => true
      case "probe" => false
      case "auto" => c.shard.isEmpty &&
        numChunks(query) > PrecomputedScan.ListingThreshold
      case other => throw new IllegalArgumentException(
        s"missingChunks planning must be auto|probe|listing, got $other")
    }
    if (useListing) {
      implicit val enc3 = Encoders.product[(Int, Int, Int)]
      val expected = chunkTasks(query).as(Encoders.product[(Int, Int, Int)])
        .flatMap { case (cx, cy, cz) =>
          c.sliceAt(cx, cy, cz, query).map(s => (s.idx, s.idy, s.idz)) }
      expected.toDF("cx", "cy", "cz")
        .join(presentChunks(query).toDF("cx", "cy", "cz"), Seq("cx", "cy", "cz"), "left_anti")
        .as[(Int, Int, Int)]
        .mapPartitions(_.flatMap { case (cx, cy, cz) =>
          c.sliceAt(cx, cy, cz, query).map(c.relKey) })
    } else
      chunkTasks(query).as(Encoders.product[(Int, Int, Int)])
        .mapPartitions { it =>
          val fs = ChunkStore.fs(c.root, conf.value.conf)
          // suffix convention resolved once per partition (first hit wins):
          // one existence probe per absent cell, not two
          val prober = new ChunkStore.SuffixProber(fs, c.root)
          it.flatMap { case (cx, cy, cz) =>
            c.sliceAt(cx, cy, cz, query).filterNot(s => c.chunkExists(fs, prober, s))
              .map(c.relKey)
          }
        }
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

  /** Integer-family widened value column → storage Long (two's-complement
    * wrap for u64/Decimal computed arithmetically, exact in Decimal). For
    * float types this column is unused (they ride the Double transport). */
  private[volume] def valueAsLong(t: VoxelType, v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    t match {
      case TBool => when(v, 1L).otherwise(0L)
      case TUInt8 | TUInt16 | TUInt32 => v.cast(LongType)
      case TUInt64 =>
        val wide = v.cast(DecimalType(21, 0))
        when(wide >= lit(new java.math.BigDecimal("9223372036854775808")),
          (wide - lit(new java.math.BigDecimal("18446744073709551616"))).cast(LongType))
          .otherwise(v.cast(LongType))
      case TFloat32 | TFloat64 => lit(0L)
    }
}
