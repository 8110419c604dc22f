package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Grid.Box
import graft.core.Meta
import graft.volume.Volume

/** Whole-volume operators built on the voxel view.
  *
  * `downsample` makes the reference's mip pyramid real: the reference only
  * derives next-mip *metadata* (src/Infos.jl:169-178 — "only downsample the
  * images in XY plane by 2 times" describes intent, no pixel code exists);
  * here the pixels actually move. x/y halve, z stays, matching the metadata
  * transform. One shuffle (groupBy target voxel), then the standard
  * fromVoxels write path. */
object VolumeOps {

  /** Mean-pool 2×2×1 blocks (image layers). Integer volumes round the mean
    * back to an integral value; float volumes keep the fractional mean
    * (rounding would destroy e.g. [0,1) affinity data). */
  def downsampleAvg(vol: Volume, box: Box): DataFrame = {
    val isFloat = vol.meta.dataType == Meta.TFloat32 || vol.meta.dataType == Meta.TFloat64
    val mean = avg(col("value"))
    vol.toVoxels(box)
      .groupBy(
        (floor((col("x") - 1) / 2) + 1).cast(IntegerType).as("x"),
        (floor((col("y") - 1) / 2) + 1).cast(IntegerType).as("y"),
        col("z"), col("c"))
      .agg((if (isFloat) mean else round(mean).cast(LongType)).as("value"))
  }

  /** Majority-vote 2×2×1 blocks (segmentation layers): the most frequent
    * label wins; ties break to the smallest label (deterministic). */
  def downsampleMode(vol: Volume, box: Box): DataFrame = {
    val counted = vol.toVoxels(box)
      .groupBy(
        (floor((col("x") - 1) / 2) + 1).cast(IntegerType).as("x"),
        (floor((col("y") - 1) / 2) + 1).cast(IntegerType).as("y"),
        col("z"), col("c"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("x"), col("y"), col("z"), col("c"))
      .orderBy(col("cnt").desc, col("value").asc)
    counted.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("x"), col("y"), col("z"), col("c"), col("value"))
  }

  /** Materialize the next mip level of `vol` over `box` into the store and
    * return the chunk count written. The target handle uses mip+1's metadata
    * (derived via ScaleMeta.nextMip when absent). */
  def buildNextMip(vol: Volume, box: Box): Long = {
    // mip pyramids are a precomputed-layout concept in this engine: the
    // scale key addresses the level. A zarr/n5 handle is a single-array
    // store whose key layout has no scale dimension — writing a pyramid
    // there would drop chunks under keys no reader of that format looks
    // at, so fail loudly instead (same contract as the other declared
    // scope edges).
    require(vol.keyStyle == "precomputed",
      s"mip pyramids are precomputed-layout only; ${vol.keyStyle} stores are single-scale")
    val meta2 =
      if (vol.meta.scales.length > vol.mip) vol.meta
      else vol.meta.withNumMips(vol.mip + 1)
    val target = new Volume(vol.spark, vol.root, meta2, vol.mip + 1, vol.fillMissing)
    if (vol.meta.scales.length <= vol.mip) target.commitInfo() // persist extended pyramid
    val down = if (vol.meta.layerType == "segmentation") downsampleMode(vol, box)
      else downsampleAvg(vol, box)
    target.fromVoxels(down)
  }

  /** Re-chunk a volume into a new store with a different chunk size and/or
    * encoding — the re-layout primitive behind chunk-size tuning (small
    * chunks for random cutouts vs large for sequential scans).
    *
    * Works at CHUNK grain as one plain RDD job with no shuffle: a task
    * builds each destination chunk from just the source chunks it overlaps
    * (blob fetch + decode + range blit), encodes and writes it; the driver
    * sums the tasks' counts. Voxels never become rows — a voxel-grain
    * `toVoxels`→`fromVoxels` pass was measured ~20x slower (24-byte rows
    * per source byte through an exchange). Read amplification is bounded
    * by the grid overlap factor (a source chunk is re-read by at most
    * `∏⌈cs/cs'⌉+1` destination tasks), and planning is the arithmetic
    * chunk-task grid — nothing lists the store at any volume size.
    *
    * With `box` smaller than the volume, destination chunks straddling the
    * box boundary are filled from SOURCE data over their whole extent (the
    * boundary spill reads slightly past `box`), so every written voxel is
    * source-true; chunks wholly outside `box` stay absent. */
  def rechunk(vol: Volume, box: Box, destRoot: String, chunkSize: (Int, Int, Int),
      encoding: Option[String] = None): Long = {
    import graft.core.Grid
    import graft.volume.{ChunkStore, VoxelBuffer}
    val srcScale = vol.meta.scales(vol.mip - 1)
    val meta2 = vol.meta.copy(scales = Vector(srcScale.copy(
      chunkSize = chunkSize, encoding = encoding.getOrElse(vol.ctx.encoding))))
    val dest = Volume.create(vol.spark, destRoot, meta2, 1, vol.fillMissing)
    val sc = vol.ctx; val dc = dest.ctx
    val (openSrc, openDest) = (vol.storeFs, dest.storeFs)
    dest.chunkCells(box).fold(0L) { cells =>
      val written = cells.mapPartitions { it =>
        val sfs = openSrc()
        val dfs = openDest()
        it.flatMap { case (cx, cy, cz) =>
          dc.sliceAt(cx, cy, cz, box).map { ds =>
            val out = VoxelBuffer.zeros(sc.dataType,
              ds.chunkBox.x.len, ds.chunkBox.y.len, ds.chunkBox.z.len, sc.numChannels,
              (ds.chunkBox.x.lo, ds.chunkBox.y.lo, ds.chunkBox.z.lo))
            // Fill the WHOLE destination chunk from source data, not just
            // its `box` overlap: the new store's metadata claims the full
            // volume, so every voxel inside a written chunk must be
            // source-true — a cutout-only blit would persist fabricated
            // zeros in the uncovered corner of boundary-straddling chunks.
            // Chunks with no box overlap are never planned, so the only
            // out-of-box voxels written are this boundary spill.
            val tgt = ds.chunkBox
            val src = Grid.idRanges(tgt, sc.chunkSize, sc.voxelOffset)
            for (sz <- src.loz to src.hiz; sy <- src.loy to src.hiy; sx <- src.lox to src.hix)
              sc.sliceAt(sx, sy, sz, tgt).foreach { ss =>
                // fetchChunk, not readOpt-by-key: on sharded stores the key
                // is logical and bytes live behind the shard index
                sc.fetchChunk(sfs, ss) match {
                  case Some(blob) => out.blit(sc.decodeChunk(ss, blob), ss.cutoutBox)
                  case None if sc.fillMissing => () // stays zero
                  // absent in the source AND entirely outside the requested
                  // box: a fill_missing reader of the SOURCE would see zeros
                  // here too, so zeros are faithful, not fabricated
                  case None if ss.cutoutBox.intersect(box).isEmpty => ()
                  case None => throw new ChunkStore.MissingChunkException(sc.keyOf(ss))
                }
              }
            ChunkStore.write(dfs, dc.root, dc.keyOf(ds), dc.encodeChunk(out))
            1L
          }
        }
      }
      vol.spark.sparkContext.runJob(written, (it: Iterator[Long]) => it.sum).sum
    }
  }

  /** Build mips `vol.mip+1 .. topMip` over `box`, each level fed by the
    * previous (the whole-pyramid form of the reference's numMip constructor,
    * src/Infos.jl:226-229 — which only created metadata). Returns chunks
    * written per level. */
  def buildPyramid(vol: Volume, box: Box, topMip: Int): Seq[Long] = {
    var handle = vol
    var b = box
    (vol.mip until topMip).map { m =>
      val written = buildNextMip(handle, b)
      val meta2 = if (handle.meta.scales.length > m) handle.meta else handle.meta.withNumMips(m + 1)
      // target coords of the 2x2x1 pooling: t = fld(v-1, 2) + 1 in x/y
      b = Box(
        graft.core.Grid.Ival(Math.floorDiv(b.x.lo - 1, 2) + 1, Math.floorDiv(b.x.hi - 1, 2) + 1),
        graft.core.Grid.Ival(Math.floorDiv(b.y.lo - 1, 2) + 1, Math.floorDiv(b.y.hi - 1, 2) + 1),
        b.z)
      handle = new Volume(vol.spark, vol.root, meta2, m + 1, vol.fillMissing)
      written
    }
  }
}
