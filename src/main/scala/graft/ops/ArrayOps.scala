package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Annotations, Grid, MeshFragment, Meta, Scratch, Skeleton}
import graft.core.Grid.Box
import graft.sources.{Mrc, N5, TiffStack, Zarr, Zarr3}
import graft.volume.{ChunkStore, Volume, VoxelBuffer}

/** The reference's array/planning operators exposed on the relational
  * surface: chunk planning as a DataFrame computation, bbox-union
  * aggregation, and key formatting — each verifiable against a SQL oracle.
  * (The full storage path — ingest/cutout/voxel view — is exercised by
  * `a3_voxel_pipeline` and the VolumeSpec roundtrips.) */
object ArrayOps {

  /** Fixed demo query parameters shared by the Spark query and its oracle. */
  val demoBox: Box = Box(57, 423, 90, 310, 3, 38)
  val demoChunk: (Int, Int, Int) = (64, 64, 8)
  val demoOffset: (Int, Int, Int) = (-300, -300, -10)

  /** Chunk-grid planning (the reference's ChunkIterator, src/ChunkIterators.jl)
    * as a declarative DataFrame: `sequence`+`explode` generate the pruned id
    * grid, computed columns derive each chunk's storage key
    * (src/Indexes.jl:80-94). Scales: the generator is distributed, and at
    * query time the same arithmetic becomes pruning predicates. */
  def a1_chunk_plan(spark: SparkSession, dir: String): DataFrame = {
    val ids = Grid.idRanges(demoBox, demoChunk, demoOffset)
    val (x0, x1) = (ids.lox, ids.hix); val (y0, y1) = (ids.loy, ids.hiy); val (z0, z1) = (ids.loz, ids.hiz)
    spark.range(1).select(
        explode(sequence(lit(x0), lit(x1))).as("cx"))
      .select(col("cx"), explode(sequence(lit(y0), lit(y1))).as("cy"))
      .select(col("cx"), col("cy"), explode(sequence(lit(z0), lit(z1))).as("cz"))
      .select(
        col("cx").cast(IntegerType).as("cx"), col("cy").cast(IntegerType).as("cy"),
        col("cz").cast(IntegerType).as("cz"))
      .select(col("cx"), col("cy"), col("cz"),
        // the native chunk_key expression (graft.functions.ChunkExprs)
        graft.functions.ChunkExprs.chunk_key(col("cx"), col("cy"), col("cz"),
          demoChunk, demoOffset).as("ckey"))
  }

  /** SQL oracle equivalent of [[a1_chunk_plan]], built from the same Grid
    * math so the constants can never drift. */
  def a1OracleSql: String = {
    val (csx, csy, csz) = demoChunk
    val ox = Grid.gridOffset(demoOffset._1, csx)
    val oy = Grid.gridOffset(demoOffset._2, csy)
    val oz = Grid.gridOffset(demoOffset._3, csz)
    val ids = Grid.idRanges(demoBox, demoChunk, demoOffset)
    val (x0, x1) = (ids.lox, ids.hix); val (y0, y1) = (ids.loy, ids.hiy); val (z0, z1) = (ids.loz, ids.hiz)
    s"""SELECT CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy, CAST(cz AS INT) AS cz,
       |  ((cx-1)*$csx+$ox) || '-' || (cx*$csx+$ox) || '_' ||
       |  ((cy-1)*$csy+$oy) || '-' || (cy*$csy+$oy) || '_' ||
       |  ((cz-1)*$csz+$oz) || '-' || (cz*$csz+$oz) AS ckey
       |FROM (SELECT unnest(generate_series($x0,$x1)) AS cx),
       |     (SELECT unnest(generate_series($y0,$y1)) AS cy),
       |     (SELECT unnest(generate_series($z0,$z1)) AS cz)""".stripMargin
  }

  /** Bounding-box union as a min/max aggregate (the reference's
    * `Indexes.union`, src/Indexes.jl:111-118) over data-derived points. */
  def a2_bbox(spark: SparkSession, dir: String): DataFrame =
    Tables.t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_custkey"),
        datediff(col("o_orderdate").cast(DateType), lit("1970-01-01").cast(DateType)).as("dday"))
      .groupBy(col("o_orderpriority"))
      .agg(min(col("o_custkey")).as("xlo"), max(col("o_custkey")).as("xhi"),
        min(col("dday")).cast(LongType).as("ylo"), max(col("dday")).cast(LongType).as("yhi"))

  /** Where the a-pipelines dump their voxel relations so the DuckDB oracle
    * can independently re-aggregate the same rows (the voxel VALUES are
    * exactness-tested against the buffer in VolumeSpec; the oracle checks
    * the store-roundtrip relation and the aggregation cross-engine). It is
    * per-JVM and shared with the centroid dumps: a fixed /tmp path would
    * let concurrent sessions clobber each other's oracle artifacts between
    * the Spark write and the DuckDB replay. The DuckDB replay runs after
    * this JVM exits, so the dumps stay out of the [[Scratch]] tree. */
  lazy val voxelDumpRoot: String = s"${Similarity.OracleDumpRoot}/voxels"

  /** Dump a voxel relation and re-aggregate it by `keys` — ONE copy of the
    * dump/agg shape shared by every a-pipeline (the Spark agg and
    * [[voxelAggOracle]] must stay column-for-column in sync for the
    * driver's hash gate). */
  private def aggFromDump(spark: SparkSession, voxels: DataFrame, dump: String,
      keys: Seq[String] = Seq("z")): DataFrame = {
    voxels.write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .orderBy(keys.map(col): _*)
  }

  private def voxelAggOracle(dump: String, keys: Seq[String] = Seq("z")): String =
    s"SELECT ${keys.mkString(", ")}, count(*) AS n, CAST(sum(value) AS BIGINT) AS sv " +
      s"FROM read_parquet('$dump/*.parquet') GROUP BY ${keys.mkString(", ")}"

  // ---------------- the demo store ----------------

  /** The demo store's one scale: 64×64×8 voxels in 32×32×4 chunks at
    * origin (1, 1, 1). Most store-backed a-queries build it, and their
    * oracles' chunk arithmetic assumes it. */
  private[graft] val demoScale =
    Meta.ScaleMeta("1_1_1", (32, 32, 4), "gzip", (1, 1, 1), (64, 64, 8), (0, 0, 0))

  /** The demo store's full extent. */
  private[ops] val demoExtent: Box = Box(1, 64, 1, 64, 1, 8)

  /** Create a demo store (dtype and channel count from `data`, `mips`
    * pyramid levels) under a fresh [[Scratch]] root and ingest `data`. */
  private[ops] def demoVolume(spark: SparkSession, tag: String, layer: String = "image",
      encoding: String = "gzip", mips: Int = 1)(data: VoxelBuffer): Volume = {
    val meta = Meta.VolumeMeta(layer, data.dataType, data.nc,
      Vector(demoScale.copy(encoding = encoding))).withNumMips(mips)
    val vol = Volume.create(spark, Scratch.dir(s"graft-$tag"), meta)
    vol.ingest(data)
    vol
  }

  /** A demo-extent buffer holding `fill(x, y, z)` (1-based coordinates). */
  private[ops] def demoFill(fill: (Int, Int, Int) => Long,
      t: Meta.VoxelType = Meta.TUInt8): VoxelBuffer = {
    val (sx, sy, sz) = demoScale.size
    val buf = VoxelBuffer.zeros(t, sx, sy, sz, 1, (1, 1, 1))
    for (z <- 1 to sz; y <- 1 to sy; x <- 1 to sx)
      buf.setLong(x - 1, y - 1, z - 1, 0, fill(x, y, z))
    buf
  }

  /** A demo-extent buffer of [[VoxelBuffer.sequenced]] values. */
  private def demoSequenced(t: Meta.VoxelType = Meta.TUInt8, channels: Int = 1): VoxelBuffer = {
    val (sx, sy, sz) = demoScale.size
    VoxelBuffer.sequenced(t, sx, sy, sz, channels, (1, 1, 1))
  }

  /** Dump the coordinates of a mask's foreground voxels for the oracle's
    * relational replay. */
  private def dumpForeground(vol: Volume, tag: String): Unit =
    vol.toVoxels(demoExtent).filter(col("value") =!= 0)
      .select(col("x"), col("y"), col("z"))
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/$tag")

  /** The (x, y, z, value) voxel projection with the value as BIGINT. */
  private def longVoxels(voxels: DataFrame): DataFrame =
    voxels.select(col("x"), col("y"), col("z"), col("value").cast(LongType).as("value"))

  // The demo stores' voxel fields, as functions of 1-based (x, y, z).
  // ArrayOpsFixtureSpec pins the bytes each one ingests.

  /** The (7x+3y+5z) mod 23 lattice residue that the a17, a18/a37, a20 and
    * a40 masks are cut from. */
  private def lattice23(x: Int, y: Int, z: Int): Int = (x * 7 + y * 3 + z * 5) % 23

  /** The (31x+17y+7z) mod 251 residue behind [[skewed]] and [[bimodal]]. */
  private def u251(x: Int, y: Int, z: Int): Int = (x * 31 + y * 17 + z * 7) % 251

  /** a28's gold segmentation: 16 block labels of 16×16 voxels, all z. */
  private[ops] def blocks16(x: Int, y: Int, z: Int): Long = 1 + (x - 1) / 16 + 4 * ((y - 1) / 16)

  /** a34: the 16 block objects with label-0 background holes punched in. */
  private[ops] def holedBlocks(x: Int, y: Int, z: Int): Long =
    if ((x + y + z) % 11 == 0) 0L else blocks16(x, y, z)

  /** a28's prediction: the gold blocks with a MERGE (6 into 5), a SPLIT
    * (11 at the x midline into a new 17) and boundary NOISE (sparse voxels
    * of 1 flipped to 2). */
  private[ops] def predBlocks(x: Int, y: Int, z: Int): Long = {
    val g = blocks16(x, y, z)
    if (g == 6) 5L
    else if (g == 11 && x > 40) 17L
    else if (g == 1 && (x + y + z) % 13 == 0) 2L
    else g
  }

  /** a33 (`bg` 7) and a30 (`bg` 5): half the chunks, in a 3-d checkerboard,
    * are uniform `bg`; the others carry bright varied data. */
  private[ops] def checker(bg: Long)(x: Int, y: Int, z: Int): Long =
    if (((x - 1) / 32 + (y - 1) / 32 + (z - 1) / 4) % 2 == 0) bg
    else 100L + (x * 13 + y * 29 + z * 41) % 100

  /** a22: labels with real per-block majorities AND tie blocks, so the
    * smallest-label rule is exercised, not just the argmax. */
  private[ops] def modeLabels(x: Int, y: Int, z: Int): Long = (x / 3 + y / 2 + z) % 6

  /** a27/a29: a depth-dependent mix — the brightest z differs across
    * columns. */
  private[ops] def depthMix(x: Int, y: Int, z: Int): Long = (x * 13 + y * 29 + z * z * 41) % 256

  /** a16: pillars every 16 voxels on x/y, 3 wide in the interior and
    * clipped to 1-2 wide at the volume edges (25 pillars of varied size;
    * the {31,32,33} pillars straddle the x=32|33 and y=32|33 chunk seams,
    * every pillar spans the z=4|5 seam), plus a z=1 bridge merging three
    * pillars of one row into one multi-chunk component (multi-hop merge). */
  private[ops] def pillars(x: Int, y: Int, z: Int): Long = {
    val pillar = (x + 1) % 16 < 3 && (y + 1) % 16 < 3
    val bridge = z == 1 && y >= 15 && y <= 17 && x >= 15 && x <= 49
    if (pillar || bridge) 1L else 0L
  }

  /** a17: a ~4% mask on the lattice zeros; it hits every chunk and every
    * seam direction. */
  private[ops] def sparseMask(x: Int, y: Int, z: Int): Long =
    if (lattice23(x, y, z) == 0) 1L else 0L

  /** a18/a37: the ~96% dense complement of [[sparseMask]]. */
  private[ops] def denseMask(x: Int, y: Int, z: Int): Long =
    if (lattice23(x, y, z) != 0) 1L else 0L

  /** a20: a ~39% dense 5-label pattern; every chunk holds several labels
    * and every seam direction carries cross-label contacts. */
  private[ops] def contactLabels(x: Int, y: Int, z: Int): Long =
    if (lattice23(x, y, z) < 9) 1L + (x * 5 + y * 11 + z * 3) % 5 else 0L

  /** a40: 128 supervoxels (8×8×2 blocks of 8×8×4 voxels) with the lattice
    * residues below 6 as holes, so every face pair carries a different
    * contact area. */
  private[ops] def supervoxels(x: Int, y: Int, z: Int): Long =
    if (lattice23(x, y, z) >= 6) 1L + (x - 1) / 8 + ((y - 1) / 8) * 8 + ((z - 1) / 4) * 64
    else 0L

  /** a38: noise independent of z plus an injected ramp of exactly 3 per
    * section. */
  private[ops] def zRamp(x: Int, y: Int, z: Int): Long = (x * 7 + y * 3) % 97 + 3 * z

  /** a21/a24/a41/a43: a skewed intensity field — the quadratic term piles
    * mass at low values the way microscopy background does. */
  private[ops] def skewed(x: Int, y: Int, z: Int): Long = {
    val u = u251(x, y, z)
    u * u / 251
  }

  /** a43's second version: [[skewed]] with the box [17,32]²×[3,6] raised by
    * 50, saturating. */
  private[ops] def skewedEdited(x: Int, y: Int, z: Int): Long = {
    val base = skewed(x, y, z)
    if (x >= 17 && x <= 32 && y >= 17 && y <= 32 && z >= 3 && z <= 6) math.min(255L, base + 50)
    else base
  }

  /** a36: bimodal by construction — dark 30–69 vs bright 160–219 on a
    * deterministic mode bit. */
  private[ops] def bimodal(x: Int, y: Int, z: Int): Long = {
    val u = u251(x, y, z)
    if ((x * 13 + y * 29 + z * 3) % 7 < 3) 30L + u % 40 else 160L + u % 60
  }

  /** a23's intensity field. */
  private[ops] def roiField(x: Int, y: Int, z: Int): Long = (x * 3 + y * 5 + z * 7) % 251

  /** a26's intensity field. */
  private[ops] def pyramidField(x: Int, y: Int, z: Int): Long = (x * 5 + y * 11 + z * 3) % 241

  /** a41's reference distribution. */
  private[ops] def refRamp(x: Int, y: Int, z: Int): Long = (x + 2 * y + 3 * z) % 200 + 28

  /** Full array-surface pipeline through the store: build a small volume
    * from deterministic data, ingest, read back as voxels, dump the voxel
    * relation, aggregate per z. The oracle re-aggregates the dumped rows in
    * DuckDB (exactness of the values themselves vs the source buffer is
    * VolumeSpec's job). */
  def a3_voxel_pipeline(spark: SparkSession, dir: String): DataFrame =
    aggFromDump(spark, demoVolume(spark, "a3")(demoSequenced()).toVoxels(demoExtent),
      s"$voxelDumpRoot/a3")

  def a3OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a3")

  /** MRC2014 single-file volume end-to-end (a35) — the dense EM container
    * on the shared engine: export a buffer as a real MRC file (1024-byte
    * header + x-fastest LE data — one sequential write, zero reordering),
    * REOPEN WITH GEOMETRY AND DTYPE DERIVED FROM THE HEADER (one ranged
    * GET), and aggregate the distributed voxel view, where each z-plane
    * chunk fetch is one COMPUTED ranged GET against the single object
    * (MrcSpec pins that a k-plane cutout costs exactly k Range requests).
    * A header-parse bug (wrong mode, dims, or extended-header offset)
    * shifts every voxel and fails the hash gate. Same oracle shape as
    * a6/a7/a9/a11. */
  def a35_mrc_volume(spark: SparkSession, dir: String): DataFrame = {
    val path = Scratch.dir("graft-a35") + "/vol.mrc"
    Mrc.write(spark, path, VoxelBuffer.sequenced(Meta.TUInt16, 20, 12, 8, 1, (1, 1, 1)))
    aggFromDump(spark, Mrc.open(spark, path).toVoxels(Box(1, 20, 1, 12, 1, 8)),
      s"$voxelDumpRoot/a35")
  }

  def a35OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a35")

  /** Per-label object catalog (a34) — the "segment properties" manifest a
    * segmentation pipeline exports beside the pyramid (neuroglancer's
    * per-segment metadata: every viewer jump-to-object and every
    * proofreading queue reads one): for each nonzero label, its tight
    * bounding box (min/max per axis), voxel count, and bbox fill fraction
    * (count / bbox volume — elongated or fragmented objects score low,
    * the triage signal for split candidates). Complements a13 (centroids)
    * with EXTENTS. One decode-pass aggregation: voxels reduce map-side to
    * (label → 7 partials); only label-grain partials cross the wire. The
    * a28 block fixture plants known boxes, so the catalog is
    * geometry-verified, not just fold-verified. */
  def a34_object_catalog(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a34", "segmentation")(demoFill(holedBlocks, Meta.TUInt16))
    val dump = s"$voxelDumpRoot/a34"
    vol.toVoxels(demoExtent)
      .filter(col("value") =!= 0)
      .select(col("x"), col("y"), col("z"), col("value").cast(LongType).as("label"))
      .write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vox"),
        min(col("x")).as("x0"), max(col("x")).as("x1"),
        min(col("y")).as("y0"), max(col("y")).as("y1"),
        min(col("z")).as("z0"), max(col("z")).as("z1"))
      .withColumn("fill", round(col("n_vox").cast(DoubleType) /
        ((col("x1") - col("x0") + 1) * (col("y1") - col("y0") + 1)
          * (col("z1") - col("z0") + 1)), 4))
  }

  /** Oracle twin of [[a34_object_catalog]]: the same extents/count/fill
    * fold over the dumped labeled voxels. */
  def a34OracleSql: String =
    s"""SELECT label, count(*) AS n_vox,
       | min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1,
       | min(z) AS z0, max(z) AS z1,
       | round(CAST(count(*) AS DOUBLE) /
       |   ((max(x) - min(x) + 1) * (max(y) - min(y) + 1) * (max(z) - min(z) + 1)), 4) AS fill
       |FROM read_parquet('$voxelDumpRoot/a34/*.parquet') GROUP BY label""".stripMargin

  /** Content-addressable chunk-dedup audit (a33) — the storage-dedup
    * measurement a petavoxel archive runs before adopting hash-addressed
    * blobs: microscopy volumes are full of byte-identical chunks (empty
    * margins, uniform background, saturated regions), and this reports
    * the copies-of-copies histogram of stored chunk BYTES (md5 over the
    * DSv2 `blob` column — the deterministic codec makes identical content
    * identical bytes). The fixture plants the structure: half the chunks
    * are uniform background, so exactly four stored objects share one
    * digest. One DSv2 scan (blob column, partition-parallel), one
    * map-side-combined digest count, then the tiny histogram fold — the
    * a14/q32 measurement shape over chunk bytes. */
  def a33_chunk_dedup(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a33")(demoFill(checker(7L)))
    val dump = s"$voxelDumpRoot/a33"
    spark.read.format("precomputed").load(vol.root)
      .filter(col("blob").isNotNull)
      .select(col("cx"), col("cy"), col("cz"), md5(col("blob")).as("h"))
      .write.mode("overwrite").parquet(dump)
    val groups = Tables.parquet(spark, dump)
      .groupBy(col("h")).agg(count(lit(1)).as("copies"))
    groups.groupBy(col("copies"))
      .agg(count(lit(1)).as("n_digests"), sum(col("copies")).as("n_chunks"))
  }

  /** Oracle twin of [[a33_chunk_dedup]]: the same digest-count histogram
    * over the dumped manifest (the digests themselves come from real
    * store bytes; VolumeOpsSpec pins the planted structure). */
  def a33OracleSql: String =
    s"""WITH g AS (SELECT h, count(*) AS copies
       |           FROM read_parquet('$voxelDumpRoot/a33/*.parquet') GROUP BY h)
       |SELECT copies, CAST(count(*) AS BIGINT) AS n_digests,
       | CAST(sum(copies) AS BIGINT) AS n_chunks
       |FROM g GROUP BY copies""".stripMargin

  /** Multi-channel pipeline under the oracle gate (a32) — the reference's
    * 4-d surface (num_channels > 1, reference src/Infos.jl num_channels;
    * its own test suite exercises 4-d cutouts) has full spec coverage in
    * VolumeSpec but until now no DuckDB-gated query: a TWO-channel uint8
    * volume goes through the distributed ingest/store/read cycle and
    * aggregates at (channel, z) grain, so channel-major buffer layout,
    * per-channel chunk framing, and the voxel view's `c` column are all
    * value-certified cross-engine, not just spec-asserted. */
  def a32_multichannel(spark: SparkSession, dir: String): DataFrame =
    aggFromDump(spark, demoVolume(spark, "a32")(demoSequenced(channels = 2)).toVoxels(demoExtent),
      s"$voxelDumpRoot/a32", keys = Seq("c", "z"))

  def a32OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a32", Seq("c", "z"))

  /** Blosc-encoded store pipeline (a25) — the reference's default codec
    * (Codings.jl `BloscCoding`) exercised through the FULL distributed
    * write→store→read cycle under the hash gate: a uint16 volume with
    * `blosclz` chunk encoding (typesize 2, so the byte-SHUFFLE filter is
    * active — the transpose that makes typed arrays compressible and that
    * a subtly wrong deshuffle would silently corrupt), ingested and read
    * back as voxels. a3/a6 prove gzip/zlib; this gates the pure-JVM blosc
    * container (header, shuffle, blosclz backend) on real chunk traffic,
    * not just the codec property tests. */
  def a25_blosc_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a25", encoding = "blosclz")(demoSequenced(Meta.TUInt16))
    aggFromDump(spark, vol.toVoxels(demoExtent), s"$voxelDumpRoot/a25")
  }

  def a25OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a25")

  /** Mip-pyramid build through the store: ingest mip 1, mean-pool into
    * mip 2, dump and aggregate mip 2 (pooling exactness in VolumeOpsSpec;
    * the oracle re-aggregates the dump). */
  def a4_downsample(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a4", mips = 2)(demoSequenced())
    VolumeOps.buildNextMip(vol, demoExtent)
    aggFromDump(spark, new Volume(spark, vol.root, vol.meta, 2).toVoxels(Box(1, 32, 1, 32, 1, 8)),
      s"$voxelDumpRoot/a4")
  }

  def a4OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a4")

  /** Nearest-neighbor UPSAMPLE (a31) — the inverse of a4's pyramid step
    * and the viewer/patch-loader fallback when full-res tissue is not yet
    * ingested: each mip-1 voxel serves all four of its mip-0 children
    * (x/y doubled, z unscaled — the a26 grid map read in reverse; NEAREST
    * because label volumes must never interpolate, the a22 argument).
    * Row-local explode — a pure projection, 4 output rows per input, no
    * shuffle until the per-z fold. The gate is GEOMETRY-sensitive: beside
    * count/sum it folds coordinate-weighted sums Σv·x and Σv·y over the
    * upsampled relation, so an off-by-one in the replication (children at
    * 2x vs 2x−1) shifts the hash — a plain count/sum gate would pass a
    * transposed or shifted kernel. */
  def a31_upsample(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a31", mips = 2)(demoSequenced())
    VolumeOps.buildNextMip(vol, demoExtent)
    val dump = s"$voxelDumpRoot/a31"
    val mip1 = new Volume(spark, vol.root, vol.meta, 2).toVoxels(Box(1, 32, 1, 32, 1, 8))
      .select(col("x"), col("y"), col("z"), col("value").cast(LongType).as("v"))
    mip1.write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .select(explode(expr(
        """array(struct(2*x - 1 AS ux, 2*y - 1 AS uy, z, v),
          |      struct(2*x     AS ux, 2*y - 1 AS uy, z, v),
          |      struct(2*x - 1 AS ux, 2*y     AS uy, z, v),
          |      struct(2*x     AS ux, 2*y     AS uy, z, v))""".stripMargin)).as("u"))
      .select(col("u.ux").as("x"), col("u.uy").as("y"), col("u.z").as("z"), col("u.v").as("v"))
      .groupBy(col("z"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("x")).as("svx"), sum(col("v") * col("y")).as("svy"))
  }

  /** Oracle twin of [[a31_upsample]]: the closed-form per-voxel
    * contribution of the 2×2 replication — each mip-1 voxel at (x, y)
    * contributes x-weights (2x−1)+(2x) per y-copy and vice versa — folded
    * from the mip-1 dump. */
  def a31OracleSql: String =
    s"""SELECT z, CAST(4 * count(*) AS BIGINT) AS n,
       | CAST(4 * sum(v) AS BIGINT) AS sv,
       | CAST(sum(v * 2 * (4 * x - 1)) AS BIGINT) AS svx,
       | CAST(sum(v * 2 * (4 * y - 1)) AS BIGINT) AS svy
       |FROM read_parquet('$voxelDumpRoot/a31/*.parquet') GROUP BY z""".stripMargin

  /** Majority-vote (MODE) downsampling under the oracle gate (a22) — the
    * segmentation-correct pyramid rule: labels must pool by the most
    * frequent value (ties to the smallest label), never by mean — an
    * averaged label id is a different, usually nonexistent segment, which
    * is why every production segmentation pyramid (and the reference's
    * own layer-type distinction, src/Infos.jl layer types) special-cases
    * it. Exercises [[VolumeOps.downsampleMode]] through the FULL store
    * path: a multi-label mip-0 is ingested, `buildNextMip` routes to mode
    * pooling because the layer type is `segmentation`, writes real mip-1
    * chunks, and the query aggregates what the STORE now holds at mip 1
    * (per-z label histogram). The oracle re-derives the mode from the
    * dumped mip-0 voxels, so a mean-pooled or misrouted pyramid
    * hash-fails.
    *
    * Scale shape: mode pooling is two map-side-combined aggregations —
    * (block, value) counts, then a per-block WindowGroupLimit top-1 —
    * and the mip write is the standard one-shuffle fromVoxels; the final
    * histogram is a third tiny aggregation. */
  def a22_mode_downsample(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a22", "segmentation", mips = 2)(demoFill(modeLabels))
    longVoxels(vol.toVoxels(demoExtent)).write.mode("overwrite").parquet(s"$voxelDumpRoot/a22_src")
    VolumeOps.buildNextMip(vol, demoExtent)
    new Volume(spark, vol.root, vol.meta, 2).toVoxels(Box(1, 32, 1, 32, 1, 8))
      .groupBy(col("z"), col("value").cast(LongType).as("label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("z"), col("label"))
  }

  /** Oracle twin of [[a22_mode_downsample]]: mode pooling replayed from the
    * mip-0 dump — per 2×2×1 block, the most frequent value with ties to the
    * smallest — then the same per-z histogram. */
  def a22OracleSql: String =
    s"""WITH src AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a22_src/*.parquet')),
       | blk AS (SELECT (x-1)//2 + 1 AS bx, (y-1)//2 + 1 AS by, z, value, count(*) AS cnt
       |         FROM src GROUP BY 1, 2, 3, 4),
       | win AS (SELECT bx, by, z, value,
       |          row_number() OVER (PARTITION BY bx, by, z ORDER BY cnt DESC, value) AS rk
       |         FROM blk),
       | m1 AS (SELECT bx, by, z, value FROM win WHERE rk = 1)
       |SELECT z, CAST(value AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
       |FROM m1 GROUP BY z, value""".stripMargin

  /** Mip-pyramid INTEGRITY AUDIT under the oracle gate (a19) — the
    * data-quality check a pyramid-maintaining pipeline runs after every
    * bulk write: re-derive each mip-1 cell from the mip-0 voxels
    * ([[VolumeOps.downsampleAvg]], the same kernel `buildNextMip` used)
    * and compare against what the STORE actually holds at mip 1, folding
    * per-z match/mismatch counts. A corrupted, stale or half-written mip
    * chunk shows up as a nonzero mismatch count for its z range.
    *
    * Scale shape: both sides are chunk-pruned voxel scans; the re-derived
    * cells come from one map-side-combined aggregation and the comparison
    * is a (x, y, z)-keyed equi-join at mip-1 grain (an 8× reduction of
    * the mip-0 relation) — no driver-side data. The fixture corrupts one
    * mip-1 chunk on purpose, so the audit provably DETECTS (n_mismatch >
    * 0 for exactly the tampered z range) rather than vacuously passing.
    *
    * Oracle: both mip relations dump to parquet; DuckDB re-derives the
    * mean-pool (same half-up rounding in double) and the same join +
    * fold. */
  def a19_mip_audit(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a19", mips = 2)(demoSequenced())
    VolumeOps.buildNextMip(vol, demoExtent)
    val vol1 = new Volume(spark, vol.root, vol.meta, 2)
    // tamper with one stored mip-1 region (z 5..8 of one chunk): the audit
    // must localize the damage, not just pass on pristine data
    tamperMip1(vol1, 5)
    longVoxels(vol.toVoxels(demoExtent)).write.mode("overwrite").parquet(s"$voxelDumpRoot/a19m0")
    longVoxels(vol1.toVoxels(Box(1, 32, 1, 32, 1, 8)))
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/a19m1")
    val derived = meanPooled(spark, s"$voxelDumpRoot/a19m0")
    Tables.parquet(spark, s"$voxelDumpRoot/a19m1")
      .join(derived, Seq("x", "y", "z"))
      .groupBy(col("z"))
      .agg(count(lit(1)).as("n_cells"),
        sum(when(col("value") === col("want"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("value") =!= col("want"), 1L).otherwise(0L)).as("n_mismatch"))
      .orderBy(col("z"))
  }

  /** Overwrite the mip-1 region x, y 1..32, z z0..z0+3 of `vol1` with 7s —
    * the injected drift a19 must localize and a47 must repair. */
  private def tamperMip1(vol1: Volume, z0: Int): Unit = {
    val tamper = VoxelBuffer.zeros(Meta.TUInt8, 32, 32, 4, 1, (1, 1, z0))
    java.util.Arrays.fill(tamper.bytes, 7.toByte)
    vol1.ingest(tamper)
  }

  /** Each mip-1 cell's expected value (`want`): the half-up rounded mean of
    * its 2×2×1 block in the mip-0 dump — the kernel `buildNextMip` runs. */
  private def meanPooled(spark: SparkSession, m0Dump: String): DataFrame =
    Tables.parquet(spark, m0Dump)
      .groupBy(
        (floor((col("x") - 1) / 2) + 1).cast(IntegerType).as("x"),
        (floor((col("y") - 1) / 2) + 1).cast(IntegerType).as("y"),
        col("z"))
      .agg(round(avg(col("value"))).cast(LongType).as("want"))

  /** Oracle twin of [[a19_mip_audit]]: the same mean-pool re-derivation
    * (double avg, half-up round) and match fold from the two dumps. */
  def a19OracleSql: String =
    s"""WITH m0 AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a19m0/*.parquet')),
       | m1 AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a19m1/*.parquet')),
       | ds AS (SELECT CAST(floor((x-1)/2) + 1 AS INT) AS x,
       |         CAST(floor((y-1)/2) + 1 AS INT) AS y, z,
       |         CAST(round(CAST(sum(value) AS DOUBLE) / count(*)) AS BIGINT) AS want
       |        FROM m0 GROUP BY 1, 2, 3)
       |SELECT m1.z, CAST(count(*) AS BIGINT) AS n_cells,
       |       CAST(sum(CASE WHEN m1.value = ds.want THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       |       CAST(sum(CASE WHEN m1.value != ds.want THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
       |FROM m1 JOIN ds ON ds.x = m1.x AND ds.y = m1.y AND ds.z = m1.z
       |GROUP BY m1.z""".stripMargin

  /** The DSv2 "precomputed" chunk table itself under the oracle gate: build
    * a deterministic fully-ingested volume, read it through
    * `spark.read.format("precomputed")`, and emit the chunk metadata. With
    * every chunk present, the row set equals the arithmetic grid, so the
    * oracle reproduces it from pure SQL arithmetic (like a1). Exercises the
    * whole scan stack: arithmetic planning, executor existence probes,
    * column pruning (no blob), key formatting. */
  def a5_chunk_table(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a5")(demoSequenced())
    spark.read.format("precomputed").load(vol.root)
      .select(col("mip"), col("cx"), col("cy"), col("cz"),
        col("x0"), col("x1"), col("y0"), col("y1"), col("z0"), col("z1"), col("key"))
  }

  /** Zarr v2 under the gate: build, ingest, and read back a zarr array
    * (zlib, C order, padded edge chunks — 20 is not a multiple of the
    * 8-chunk in x), dump the voxel relation, aggregate per z; the oracle
    * re-aggregates the dump. */
  def a6_zarr_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft-a6")
    val vol = Zarr.create(spark, root, shape = (20, 12, 8), chunks = (8, 4, 2),
      dataType = Meta.TUInt16, encoding = "zlib")
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 24, 12, 8, 1, (1, 1, 1)))
    aggFromDump(spark, Zarr.open(spark, root).toVoxels(Box(1, 20, 1, 12, 1, 8)),
      s"$voxelDumpRoot/a6")
  }

  def a6OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a6")

  /** N5 end-to-end: create an n5 dataset, ingest through the engine, reopen
    * and aggregate the distributed voxel view. Exercises nested block keys,
    * per-block headers, big-endian payloads, and edge clipping on top of the
    * same Volume machinery (oracle re-aggregates the dumped voxels). */
  def a7_n5_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft-a7")
    val vol = N5.create(spark, root, shape = (20, 12, 8), blockSize = (8, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 20, 12, 8, 1, (1, 1, 1)))
    aggFromDump(spark, N5.open(spark, root).toVoxels(Box(1, 20, 1, 12, 1, 8)),
      s"$voxelDumpRoot/a7")
  }

  def a7OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a7")

  /** Zarr v3 end-to-end: create a v3 array (zarr.json + default `c/z/y/x`
    * chunk keys + [bytes, gzip] codec chain), ingest through the engine,
    * reopen and aggregate the distributed voxel view — same oracle shape as
    * a6/a7 (re-aggregate the dumped voxels in DuckDB). */
  def a9_zarr3_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft-a9")
    val vol = Zarr3.create(spark, root, shape = (20, 12, 8), chunks = (8, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 24, 12, 8, 1, (1, 1, 1)))
    aggFromDump(spark, Zarr3.open(spark, root).toVoxels(Box(1, 20, 1, 12, 1, 8)),
      s"$voxelDumpRoot/a9")
  }

  def a9OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a9")

  /** SHARDED zarr v3 end-to-end (`sharding_indexed` — the petavoxel
    * layout): create a sharded array (one stored object per 2×2×2 inner
    * chunks, gzip inner chain, CRC32C'd offset index), ingest through the
    * shard-grouped write path, reopen and aggregate the distributed voxel
    * view — reads go index + ranged-GET per inner chunk. Same oracle shape
    * as a9. */
  def a10_zarr3_sharded(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft-a10")
    val vol = Zarr3.createSharded(spark, root, shape = (20, 12, 8),
      shardShape = (16, 8, 4), innerChunks = (8, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 24, 12, 8, 1, (1, 1, 1)))
    aggFromDump(spark, Zarr3.open(spark, root).toVoxels(Box(1, 20, 1, 12, 1, 8)),
      s"$voxelDumpRoot/a10")
  }

  def a10OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a10")

  /** TIFF stack end-to-end: create a per-z-slice image stack, ingest
    * through the engine (each chunk encodes to a REAL grayscale TIFF via
    * `javax.imageio`), reopen WITH GEOMETRY AND DTYPE DERIVED FROM THE
    * SLICE FILES (one LIST + one header read — a stack has no metadata
    * document), and aggregate the distributed voxel view. Same oracle
    * shape as a6/a7/a9: re-aggregate the dumped voxels in DuckDB. A
    * header-derivation bug (wrong width, depth, or bit width) shifts
    * every voxel and fails the hash gate. */
  def a11_tiff_stack(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("graft-a11")
    val vol = TiffStack.create(spark, root, shape = (20, 12, 8), dataType = Meta.TUInt16)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 20, 12, 8, 1, (1, 1, 1)))
    aggFromDump(spark, TiffStack.open(spark, root).toVoxels(Box(1, 20, 1, 12, 1, 8)),
      s"$voxelDumpRoot/a11")
  }

  def a11OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a11")

  /** Cross-FORMAT conversion pipeline (a12) — the reference domain's actual
    * ingestion workflow: raw microscopy arrives as a TIFF image stack, gets
    * converted into a chunked precomputed store, and a downsample pyramid is
    * built on top. Composes three engine primitives across two formats:
    * TiffStack ingest → [[VolumeOps.rechunk]] (chunk-grain copy, no voxel
    * rows, no shuffle) into a precomputed layout with a real 3-d chunk
    * grid → [[VolumeOps.buildNextMip]] (2×2×1 average). Both mip levels are
    * then read back through the converted store and aggregated; the oracle
    * re-aggregates the dump. A byte wrong anywhere in the TIFF decode, the
    * cross-format blit, or the downsample shifts a sum and fails the gate. */
  def a12_convert_pipeline(spark: SparkSession, dir: String): DataFrame = {
    val srcRoot = Scratch.dir("graft-a12-tiff")
    val src = TiffStack.create(spark, srcRoot, shape = (20, 12, 8), dataType = Meta.TUInt16)
    src.ingest(VoxelBuffer.sequenced(Meta.TUInt16, 20, 12, 8, 1, (1, 1, 1)))
    val dstRoot = Scratch.dir("graft-a12-pre")
    val box = Box(1, 20, 1, 12, 1, 8)
    VolumeOps.rechunk(TiffStack.open(spark, srcRoot), box, dstRoot,
      chunkSize = (8, 4, 2), encoding = Some("gzip"))
    val converted = Volume.open(spark, dstRoot)
    VolumeOps.buildNextMip(converted, box)
    val v1 = converted.toVoxels(box).withColumn("mip", lit(1))
    val v2 = Volume.open(spark, dstRoot, mip = 2)
      .toVoxels(Box(1, 10, 1, 6, 1, 8)).withColumn("mip", lit(2))
    aggFromDump(spark, v1.unionByName(v2), s"$voxelDumpRoot/a12", keys = Seq("mip", "z"))
  }

  def a12OracleSql: String = voxelAggOracle(s"$voxelDumpRoot/a12", keys = Seq("mip", "z"))

  /** Segmentation label statistics — the connectomics "object stats" pass
    * over a segmentation-typed volume (the reference's second layer type,
    * src/Infos.jl:208): per-label voxel count, tight bounding box, and
    * centroid. A uint16 segmentation volume is built and ingested, read
    * back through the distributed voxel view, labels derived from the
    * stored ids, and ALL stats fold in ONE scan — count, six bbox extrema,
    * and three centroid sums share a single map-side-combined groupBy on
    * label, no joins, no second pass. That is the shape that holds at
    * 100 TB: object stats over a petavoxel segmentation are exactly one
    * shuffle of (label → 10 partial aggregates). The oracle re-aggregates
    * the dumped voxel relation (label included in the dump, so the oracle
    * replays aggregation, not label derivation). */
  def a13_label_stats(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a13", "segmentation")(demoSequenced(Meta.TUInt16))
    val dump = s"$voxelDumpRoot/a13"
    vol.toVoxels(demoExtent)
      .withColumn("label", expr("CAST(value AS BIGINT) DIV 1024"))
      .write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x0"), max(col("x")).as("x1"),
        min(col("y")).as("y0"), max(col("y")).as("y1"),
        min(col("z")).as("z0"), max(col("z")).as("z1"),
        sum(col("x").cast(LongType)).as("sx"),
        sum(col("y").cast(LongType)).as("sy"),
        sum(col("z").cast(LongType)).as("sz"))
      .select(col("label"), col("n"),
        col("x0"), col("x1"), col("y0"), col("y1"), col("z0"), col("z1"),
        round(col("sx").cast(DoubleType) / col("n"), 4).as("cx"),
        round(col("sy").cast(DoubleType) / col("n"), 4).as("cy"),
        round(col("sz").cast(DoubleType) / col("n"), 4).as("cz"))
      .orderBy(col("label"))
  }

  /** Per-segment image statistics under the oracle gate (a15): an IMAGE
    * volume and a SEGMENTATION volume on the SAME chunk grid, zipped
    * chunk-aligned ([[graft.volume.Volume.zipVoxels]] — the same chunk task
    * fetches both aligned objects and zips decoded buffers; no voxel-grain
    * join exists), then aggregated per label: voxel count, min/max/sum and
    * mean intensity — the "mean intensity per segment" measurement every
    * overlay analysis runs. The one exchange in the whole query is the
    * final (label → 4 partial aggregates) map-side-combined shuffle; at
    * petavoxel scale that is the only data that ever moves. Oracle
    * re-aggregates the dumped zipped relation (label + intensity both in
    * the dump, so the oracle replays aggregation, not volume plumbing). */
  def a15_label_intensity(spark: SparkSession, dir: String): DataFrame = {
    val seg = demoVolume(spark, "a15-seg", "segmentation")(demoSequenced(Meta.TUInt16))
    val img = demoVolume(spark, "a15-img", encoding = "raw")(demoSequenced())
    val dump = s"$voxelDumpRoot/a15"
    img.zipVoxels(seg, demoExtent)
      .withColumn("label", expr("CAST(vb AS BIGINT) DIV 1024"))
      .select(col("x"), col("y"), col("z"), col("va").cast(LongType).as("v"), col("label"))
      .write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        sum(col("v")).as("vsum"))
      .select(col("label"), col("n"), col("vmin"), col("vmax"), col("vsum"),
        round(col("vsum").cast(DoubleType) / col("n"), 4).as("vmean"))
      .orderBy(col("label"))
  }

  /** Zone-map chunk skipping under the oracle gate (a30) — parquet's
    * row-group statistics idea applied to the chunk store: a per-chunk
    * (vmin, vmax) relation is built once ([[graft.volume.Volume
    * .chunkStats]] — chunk-grain, megabytes at petavoxel scale) and
    * PERSISTED as the at-rest index; a threshold scan
    * ([[graft.volume.Volume.toVoxelsAtLeast]] — bright-spot detection,
    * label presence) then fetches ONLY chunks whose vmax admits a match.
    * The fixture makes pruning real: half the chunks are uniform
    * background (vmax = 5, skipped at t = 50), half carry bright varied
    * data — so the scan touches 4 of 8 blobs, and VolumeSpec proves the
    * "never fetched" claim by DELETING the pruned blobs and scanning
    * anyway. The oracle replays the predicate over the full voxel dump —
    * pruning must be invisible in the answer (the q28/q30/q36
    * discipline: the optimization may never change the result). */
  def a30_zonemap(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a30")(demoFill(checker(5L)))
    val dump = s"$voxelDumpRoot/a30"
    longVoxels(vol.toVoxels(demoExtent)).write.mode("overwrite").parquet(dump)
    // the at-rest zone-map artifact: built once, read back per query
    val statsPath = s"${Similarity.OracleDumpRoot}/a30_stats"
    vol.chunkStats(demoExtent).write.mode("overwrite").parquet(statsPath)
    vol.toVoxelsAtLeast(demoExtent, 50L, Some(Tables.parquet(spark, statsPath)))
      .groupBy(col("z"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(LongType)).as("sv"))
  }

  /** Oracle twin of [[a30_zonemap]]: the same threshold predicate over the
    * FULL voxel dump — chunk skipping must be invisible. */
  def a30OracleSql: String =
    s"""SELECT z, count(*) AS n, CAST(sum(value) AS BIGINT) AS sv
       |FROM read_parquet('$voxelDumpRoot/a30/*.parquet')
       |WHERE value >= 50 GROUP BY z""".stripMargin

  /** Halo-exchange box blur under the oracle gate (a29) — the smoothing /
    * noise-reduction stencil every imaging QC pipeline runs, and the
    * VALUE-carrying member of the halo-exchange family (a17 dilation
    * exchanges growth, a18 erosion presence proofs, a20 contacts label
    * pairs — a stencil exchanges neighbor VALUES):
    * `blur(p) = ⌊(v(p) + Σ v(q)) / (1 + #q)⌋` over in-box 6-neighbors
    * (boundary-aware mean, never zero-padded; integer floor so the gate is
    * exact). Interior voxels finish inside their chunk's decode pass
    * ([[graft.volume.Volume.localBlur]]); a face voxel's 1–3 across-seam
    * neighbor VALUES arrive by joining the O(surface) needs relation to
    * the O(surface) face-value relation — per-voxel divisors are
    * geometry-derived and known locally, so only the numerator crosses
    * seams. The voxel relation never shuffles; the per-z fold is
    * map-side combined. */
  def a29_blur(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a29")(demoFill(depthMix))
    val dump = s"$voxelDumpRoot/a29"
    longVoxels(vol.toVoxels(demoExtent)).write.mode("overwrite").parquet(dump)
    blurStats(vol.localBlur(demoExtent))
  }

  /** The seam fold of distributed blur over a
    * [[graft.volume.Volume.localBlur]] relation: per-z (n, Σ blur). Each
    * need takes its neighbour's value from the face-value relation; a value
    * that never arrives (its voxel lies inside the query box but past the
    * volume) reads as zero, as the kernel reads a missing chunk. Exposed
    * separately so specs can drive it over arbitrary volumes. */
  private[graft] def blurStats(localBlur: DataFrame): DataFrame = {
    // partials feed three consumers — materialized once
    val parts = Tables.materialize(localBlur)
    val interior = parts.select(explode(col("zsums")).as("t"))
      .select(col("t.z").as("z"), col("t.n").as("n"), col("t.s").as("s"))
    val needs = parts.select(explode(col("needs")).as("nd")).select(col("nd.*"))
    val vals = parts.select(explode(col("vals")).as("fv")).select(col("fv.*"))
    val finished = needs
      .join(vals, needs("tx") === vals("x") && needs("ty") === vals("y") &&
        needs("tz") === vals("z"), "left")
      .groupBy(col("px"), col("py"), col("pz"))
      .agg(first(col("s0")).as("s0"), first(col("c")).as("c"),
        sum(coalesce(col("v"), lit(0L))).as("sv"))
      .select(col("pz").as("z"),
        expr("CAST((s0 + sv) DIV c AS BIGINT)").as("bv"))
      .groupBy(col("z")).agg(count(lit(1)).as("n"), sum(col("bv")).as("s"))
    interior.unionByName(finished)
      .groupBy(col("z")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  }

  /** Oracle twin of [[a29_blur]]: the same boundary-aware 7-point floor
    * mean re-derived from the dumped voxels by a shifted self-join (every
    * neighbor that exists in the dump IS an in-box neighbor), folded per
    * z. Matches only if the engine's interior/seam decomposition was
    * exact. */
  def a29OracleSql: String =
    s"""WITH d AS (SELECT x, y, z, CAST(value AS BIGINT) AS v
       |           FROM read_parquet('$voxelDumpRoot/a29/*.parquet')),
       | o AS (SELECT * FROM (VALUES (0,0,0),(1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1)) t(dx,dy,dz)),
       | c AS (SELECT t.x, t.y, t.z, sum(s.v) AS sv, count(*) AS cnt
       |       FROM d t JOIN o ON true
       |       JOIN d s ON s.x = t.x + o.dx AND s.y = t.y + o.dy AND s.z = t.z + o.dz
       |       GROUP BY t.x, t.y, t.z),
       | b AS (SELECT z, sv // cnt AS bv FROM c)
       |SELECT z, count(*) AS n, CAST(sum(bv) AS BIGINT) AS s FROM b GROUP BY z""".stripMargin

  /** Segmentation-agreement contingency (a28) — the evaluation every
    * proofreading / re-run pipeline computes between two segmentations of
    * the same tissue (gold vs predicted): the (gold_label, pred_label)
    * voxel-count contingency table, the raw material of Rand index and
    * variation-of-information scores. The fixture plants the three
    * canonical error modes — a MERGE (gold 6 absorbed into 5), a SPLIT
    * (gold 11 divided at the x midline into a new label 17), and boundary
    * NOISE (sparse voxels of gold 1 flipped to 2) — so the table provably
    * separates them: a merge shows one pred row absorbing two gold rows, a
    * split shows one gold row fanning into two pred rows.
    *
    * Scale shape: both volumes are zipped CHUNK-ALIGNED
    * ([[graft.volume.Volume.zipVoxels]] — the same chunk task fetches both
    * aligned objects; no voxel-grain join exists), and the table is one
    * map-side-combined count aggregation at (gold, pred) grain — bounded
    * by label-pair cardinality, not voxels. At petavoxel scale the only
    * data that moves is the tiny partial-count relation. */
  def a28_seg_contingency(spark: SparkSession, dir: String): DataFrame = {
    val gold = demoVolume(spark, "a28-gold", "segmentation")(demoFill(blocks16, Meta.TUInt16))
    val pred = demoVolume(spark, "a28-pred", "segmentation")(demoFill(predBlocks, Meta.TUInt16))
    val dump = s"$voxelDumpRoot/a28"
    gold.zipVoxels(pred, demoExtent)
      .select(col("va").cast(LongType).as("gold"), col("vb").cast(LongType).as("pred"))
      .write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(col("gold"), col("pred")).agg(count(lit(1)).as("n"))
  }

  /** Oracle twin of [[a28_seg_contingency]]: the same contingency fold
    * over the dumped zipped relation. */
  def a28OracleSql: String =
    s"""SELECT gold, pred, count(*) AS n
       |FROM read_parquet('$voxelDumpRoot/a28/*.parquet') GROUP BY gold, pred""".stripMargin

  /** Storage audit under the oracle gate: a gzip'd volume with PARTIAL edge
    * chunks (60×60×7 over a 32×32×4 grid), audited by
    * [[graft.volume.Volume.storageReport]] — one LIST pass carries stored
    * object sizes, raw sizes come from the engine's own chunk clamping, and
    * the per-z-layer compression report aggregates the dumped relation in
    * both engines. Zero GETs: at petavoxel scale this is the health check
    * that never reads a blob. */
  def a14_storage_report(spark: SparkSession, dir: String): DataFrame = {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1,
      Vector(demoScale.copy(size = (60, 60, 7))))
    val vol = Volume.create(spark, Scratch.dir("graft-a14"), meta)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 60, 60, 7, 1, (1, 1, 1)))
    val dump = s"$voxelDumpRoot/a14"
    vol.storageReport(Box(1, 60, 1, 60, 1, 7))
      .write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(col("cz"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("stored_bytes")).as("stored"),
        sum(col("raw_bytes")).as("raw"))
      .select(col("cz"), col("n_chunks"), col("stored"), col("raw"),
        round(col("stored").cast(DoubleType) / col("raw"), 4).as("ratio"))
      .orderBy(col("cz"))
  }

  def a14OracleSql: String =
    s"""SELECT cz, count(*) AS n_chunks, CAST(sum(stored_bytes) AS BIGINT) AS stored,
       | CAST(sum(raw_bytes) AS BIGINT) AS raw,
       | round(CAST(sum(stored_bytes) AS DOUBLE) / sum(raw_bytes), 4) AS ratio
       |FROM read_parquet('$voxelDumpRoot/a14/*.parquet') GROUP BY cz""".stripMargin

  def a13OracleSql: String =
    s"""SELECT label, count(*) AS n,
       | min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1, min(z) AS z0, max(z) AS z1,
       | round(CAST(sum(x) AS DOUBLE) / count(*), 4) AS cx,
       | round(CAST(sum(y) AS DOUBLE) / count(*), 4) AS cy,
       | round(CAST(sum(z) AS DOUBLE) / count(*), 4) AS cz
       |FROM read_parquet('$voxelDumpRoot/a13/*.parquet') GROUP BY label""".stripMargin

  /** Oracle twin of [[a15_label_intensity]]: the zipped (label, intensity)
    * relation re-aggregated in DuckDB. */
  def a15OracleSql: String =
    s"""SELECT label, count(*) AS n,
       | min(v) AS vmin, max(v) AS vmax, CAST(sum(v) AS BIGINT) AS vsum,
       | round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS vmean
       |FROM read_parquet('$voxelDumpRoot/a15/*.parquet') GROUP BY label""".stripMargin

  /** Distributed connected-components labeling under the oracle gate (a16):
    * the canonical chunked-segmentation graph operator. A uint8 mask volume
    * is built with pillars + a bridge that straddle chunk seams on all three
    * axes, ingested, and labeled in three scale-shaped stages:
    *  1. chunk-local union-find ([[graft.volume.Volume.localComponents]]) —
    *     one pass over chunks, emitting per-LOCAL-component stats plus only
    *     the face voxels (O(surface), not O(volume));
    *  2. cross-chunk edges from three +1-shifted equi-joins of the face
    *     relation (face voxels adjacent across a seam link their provisional
    *     components; same-chunk matches collapse to `a = b` and drop);
    *  3. [[Dedup.connectedComponents]] pointer jumping merges the
    *     provisional-component graph in O(log diameter) label-grain rounds,
    *     and per-component stats fold with one map-side-combined groupBy.
    * At petavoxel scale the voxel relation never shuffles — stage 2+3 move
    * only face voxels and (component → 8 partial aggregates) rows. The
    * component id is the min linearized voxel index (z<<40|y<<20|x), fully
    * deterministic, which lets the DuckDB oracle recompute the SAME labels
    * independently via a recursive-CTE min-label closure over the dumped
    * foreground voxel relation — the oracle replays the graph semantics,
    * not the chunk decomposition. */
  def a16_connected_components(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a16", "segmentation")(demoFill(pillars))
    dumpForeground(vol, "a16")
    componentStats(vol.localComponents(demoExtent))
  }

  /** Stages 2+3 of distributed CC over a [[graft.volume.Volume.localComponents]]
    * relation: build the O(surface) cross-chunk face graph with three
    * +1-shifted equi-joins, merge provisional components with pointer
    * jumping, fold per-component stats in one map-side-combined groupBy.
    * Exposed separately so specs can drive it over arbitrary volumes. */
  private[graft] def componentStats(localComponents: DataFrame): DataFrame = {
    // materialized: consumed by both the face-graph build and the stats fold
    // (without it each consumer would re-read + re-label every chunk)
    val lc = Tables.materialize(localComponents)
    val bnd = lc.select(col("prov"), explode(col("face")).as("f"))
      .select(col("prov"), col("f.x").as("x"), col("f.y").as("y"), col("f.z").as("z"))
    def shifted(dx: Int, dy: Int, dz: Int): DataFrame =
      bnd.as("a").join(bnd.as("b"),
        col("b.x") === col("a.x") + dx &&
          col("b.y") === col("a.y") + dy &&
          col("b.z") === col("a.z") + dz)
        .select(col("a.prov").as("a"), col("b.prov").as("b"))
    val pairs = shifted(1, 0, 0).union(shifted(0, 1, 0)).union(shifted(0, 0, 1))
      .filter(col("a") =!= col("b")).distinct()
    val comp = Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vtx"), col("cluster").as("lbl"))
    lc.join(comp, lc("prov") === comp("vtx"), "left")
      .select(coalesce(col("lbl"), col("prov")).as("comp"), col("n"),
        col("x0"), col("x1"), col("y0"), col("y1"), col("z0"), col("z1"))
      .groupBy(col("comp"))
      .agg(sum(col("n")).as("n_voxels"),
        min(col("x0")).as("x0"), max(col("x1")).as("x1"),
        min(col("y0")).as("y0"), max(col("y1")).as("y1"),
        min(col("z0")).as("z0"), max(col("z1")).as("z1"))
      .orderBy(col("comp"))
  }

  /** Oracle twin of [[a16_connected_components]]: min-label closure over the
    * dumped foreground voxels as a DuckDB recursive CTE (reachability
    * enumeration is fine at oracle scale — components are designed small),
    * then the same per-component aggregation. Same linearization constants,
    * so the labels must agree bit-for-bit. */
  def a16OracleSql: String =
    s"""WITH RECURSIVE fg AS (
       |  SELECT x, y, z,
       |    (CAST(z AS BIGINT) << 40) | (CAST(y AS BIGINT) << 20) | CAST(x AS BIGINT) AS lin
       |  FROM read_parquet('$voxelDumpRoot/a16/*.parquet')
       |), e AS (
       |  SELECT a.lin AS u, b.lin AS v FROM fg a JOIN fg b ON
       |    (b.x = a.x + 1 AND b.y = a.y AND b.z = a.z) OR
       |    (b.x = a.x AND b.y = a.y + 1 AND b.z = a.z) OR
       |    (b.x = a.x AND b.y = a.y AND b.z = a.z + 1)
       |), sym AS (
       |  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
       |), reach(v, l) AS (
       |  SELECT lin, lin FROM fg
       |  UNION
       |  SELECT s.v, r.l FROM reach r JOIN sym s ON s.u = r.v
       |), lbl AS (
       |  SELECT v, min(l) AS comp FROM reach GROUP BY v
       |)
       |SELECT l.comp, count(*) AS n_voxels,
       |  min(f.x) AS x0, max(f.x) AS x1, min(f.y) AS y0, max(f.y) AS y1,
       |  min(f.z) AS z0, max(f.z) AS z1
       |FROM fg f JOIN lbl l ON l.v = f.lin
       |GROUP BY l.comp""".stripMargin

  /** Distributed binary DILATION under the oracle gate (a17) — the
    * canonical HALO-EXCHANGE morphological operator over a chunked mask
    * volume. A pseudo-random (deterministic) sparse mask is ingested and
    * dilated by one 6-connected step in three scale-shaped stages:
    *  1. chunk-local dilation ([[graft.volume.Volume.localDilate]]) — one
    *     decode pass per chunk, emitting per-chunk counts plus only the
    *     O(surface) `shell` (dilated face voxels) and `spill` (the halo
    *     pushed one step across each seam) lists;
    *  2. spill coords dedup and ANTI-JOIN the shell — a target already in
    *     its owner's local dilated set must not double-count; both sides
    *     are O(surface);
    *  3. survivors fold per target chunk and add to the local counts.
    * The voxel relation never shuffles — at petavoxel scale only face-deep
    * halos move, which is exactly how production morphology (erosion/
    * dilation/closing passes over segmentation masks) is decomposed.
    * Output grain: one row per chunk (cx, cy, cz, n_fg, n_dil). The
    * oracle replays dilation as a 7-shift DISTINCT union over the dumped
    * foreground voxels with the same chunk-id arithmetic
    * (fld(x−1, cs)+1 — Grid.chunkIdOf's 1-based rule). */
  def a17_dilate(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a17", "segmentation")(demoFill(sparseMask))
    dumpForeground(vol, "a17")
    dilateStats(vol.localDilate(demoExtent))
  }

  /** Stages 2+3 of distributed dilation over a
    * [[graft.volume.Volume.localDilate]] relation. Exposed separately so
    * specs can drive it over arbitrary volumes. */
  private[graft] def dilateStats(localDilate: DataFrame): DataFrame = {
    // materialized: consumed by the per-chunk counts AND both halo sides
    val ld = Tables.materialize(localDilate)
    val shell = ld.select(explode(col("shell")).as("s"))
      .select(col("s.x").as("x"), col("s.y").as("y"), col("s.z").as("z"))
    val spill = ld.select(explode(col("spill")).as("p"))
      .select(col("p.tcx").as("cx"), col("p.tcy").as("cy"), col("p.tcz").as("cz"),
        col("p.x").as("x"), col("p.y").as("y"), col("p.z").as("z"))
    addPerOwner(ld, "n_dil", "n_dil", spill, shell)
  }

  /** The seam fold [[dilateStats]] and [[openStats]] share: the distinct
    * owner-keyed `additions` (cx, cy, cz, x, y, z) — one coord can arrive
    * from several source chunks — that are not in the owner's local set
    * `local` (x, y, z) add to the owner chunk's `baseCount` column of
    * `base`; a chunk that only receives additions gets a row of its own.
    * One row per chunk (cx, cy, cz, n_fg, `out`), ordered. */
  private def addPerOwner(base: DataFrame, baseCount: String, out: String,
      additions: DataFrame, local: DataFrame): DataFrame = {
    val extra = additions.distinct()
      .join(local, Seq("x", "y", "z"), "left_anti")
      .groupBy(col("cx"), col("cy"), col("cz")).agg(count(lit(1)).as("n_extra"))
    base.select(col("cx"), col("cy"), col("cz"), col("n_fg"), col(baseCount))
      .join(extra, Seq("cx", "cy", "cz"), "full_outer")
      .select(col("cx").cast(LongType).as("cx"), col("cy").cast(LongType).as("cy"),
        col("cz").cast(LongType).as("cz"),
        coalesce(col("n_fg"), lit(0L)).as("n_fg"),
        (coalesce(col(baseCount), lit(0L)) + coalesce(col("n_extra"), lit(0L))).as(out))
      .orderBy(col("cx"), col("cy"), col("cz"))
  }

  /** Oracle twin of [[a17_dilate]]: dilation as a 7-shift DISTINCT union
    * over the dumped foreground voxels, clipped to the query box, with the
    * same 1-based chunk-id arithmetic. */
  def a17OracleSql: String =
    s"""WITH fg AS (SELECT x, y, z FROM read_parquet('$voxelDumpRoot/a17/*.parquet')),
       | d AS (SELECT * FROM (VALUES (0,0,0),(1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1))
       |        t(dx, dy, dz)),
       | dil AS (SELECT DISTINCT f.x + s.dx AS x, f.y + s.dy AS y, f.z + s.dz AS z
       |         FROM fg f CROSS JOIN d s
       |         WHERE f.x + s.dx BETWEEN 1 AND 64 AND f.y + s.dy BETWEEN 1 AND 64
       |           AND f.z + s.dz BETWEEN 1 AND 8),
       | fgc AS (SELECT (x-1)//32 + 1 AS cx, (y-1)//32 + 1 AS cy, (z-1)//4 + 1 AS cz,
       |          count(*) AS n_fg FROM fg GROUP BY 1, 2, 3),
       | dlc AS (SELECT (x-1)//32 + 1 AS cx, (y-1)//32 + 1 AS cy, (z-1)//4 + 1 AS cz,
       |          count(*) AS n_dil FROM dil GROUP BY 1, 2, 3)
       |SELECT CAST(coalesce(f.cx, l.cx) AS BIGINT) AS cx,
       |       CAST(coalesce(f.cy, l.cy) AS BIGINT) AS cy,
       |       CAST(coalesce(f.cz, l.cz) AS BIGINT) AS cz,
       |       CAST(coalesce(f.n_fg, 0) AS BIGINT) AS n_fg,
       |       CAST(coalesce(l.n_dil, 0) AS BIGINT) AS n_dil
       |FROM fgc f FULL OUTER JOIN dlc l
       |  ON f.cx = l.cx AND f.cy = l.cy AND f.cz = l.cz""".stripMargin

  /** Distributed binary EROSION under the oracle gate (a18) — [[a17_dilate]]'s
    * dual, completing the halo-exchange morphology pair (together they
    * give opening/closing): a voxel survives iff it and all 6 neighbors
    * are foreground, neighbors outside the query box counting as
    * background. Chunk-local pass decides interior voxels and collects
    * face candidates needing across-seam confirmation; the combiner
    * left-joins each candidate's needed coords against the O(surface)
    * face-foreground relation and keeps candidates with EVERY need
    * confirmed. The mask is the a17 pattern's ~96% dense complement, so
    * erosion removes a shell around every hole and every seam carries
    * confirmations. */
  def a18_erode(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a18", "segmentation")(demoFill(denseMask))
    dumpForeground(vol, "a18")
    erodeStats(vol.localErode(demoExtent))
  }

  /** Stage 2 of distributed erosion over a
    * [[graft.volume.Volume.localErode]] relation: confirm every candidate
    * need against the face-foreground relation; a candidate survives iff
    * all its needs are present. Exposed separately for specs. */
  private[graft] def erodeStats(localErode: DataFrame): DataFrame = {
    val le = Tables.materialize(localErode)
    val confirmed = confirmedCands(le)
      .groupBy(col("cx"), col("cy"), col("cz")).agg(count(lit(1)).as("n_border"))
    le.select(col("cx"), col("cy"), col("cz"), col("n_fg"), col("n_inner"))
      .join(confirmed, Seq("cx", "cy", "cz"), "left_outer")
      .select(col("cx").cast(LongType).as("cx"), col("cy").cast(LongType).as("cy"),
        col("cz").cast(LongType).as("cz"), col("n_fg"),
        (col("n_inner") + coalesce(col("n_border"), lit(0L))).as("n_erode"))
      .orderBy(col("cx"), col("cy"), col("cz"))
  }

  /** The seam join [[erodeStats]] and [[openStats]] share: the candidates
    * (cx, cy, cz, x, y, z) of a [[graft.volume.Volume.localErode]] or
    * [[graft.volume.Volume.localOpen]] relation whose every need is
    * confirmed by a `face` presence row. */
  private def confirmedCands(local: DataFrame): DataFrame = {
    val face = local.select(explode(col("face")).as("f"))
      .select(col("f.x").as("nx"), col("f.y").as("ny"), col("f.z").as("nz"),
        lit(1).as("present"))
    val needs = local.select(col("cx"), col("cy"), col("cz"), explode(col("cand")).as("c"))
      .select(col("cx"), col("cy"), col("cz"),
        col("c.x").as("x"), col("c.y").as("y"), col("c.z").as("z"),
        explode(col("c.needs")).as("nd"))
      .select(col("cx"), col("cy"), col("cz"), col("x"), col("y"), col("z"),
        col("nd.x").as("nx"), col("nd.y").as("ny"), col("nd.z").as("nz"))
    needs.join(face, Seq("nx", "ny", "nz"), "left_outer")
      .groupBy(col("cx"), col("cy"), col("cz"), col("x"), col("y"), col("z"))
      .agg(count(lit(1)).as("n_needs"), count(col("present")).as("n_found"))
      .filter(col("n_needs") === col("n_found"))
      .select(col("cx"), col("cy"), col("cz"), col("x"), col("y"), col("z"))
  }

  /** Oracle twin of [[a18_erode]]: a voxel survives iff its 6-neighbor
    * count within the dumped foreground is exactly 6 (an out-of-box
    * neighbor is absent from the dump, so box-boundary voxels drop out
    * automatically); same 1-based chunk-id arithmetic. */
  def a18OracleSql: String =
    s"""WITH fg AS (SELECT x, y, z FROM read_parquet('$voxelDumpRoot/a18/*.parquet')),
       | d AS (SELECT * FROM (VALUES (1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1))
       |        t(dx, dy, dz)),
       | nb AS (SELECT f.x, f.y, f.z, count(*) AS cnt
       |        FROM fg f CROSS JOIN d s
       |        JOIN fg n ON n.x = f.x + s.dx AND n.y = f.y + s.dy AND n.z = f.z + s.dz
       |        GROUP BY 1, 2, 3),
       | er AS (SELECT x, y, z FROM nb WHERE cnt = 6),
       | fgc AS (SELECT (x-1)//32 + 1 AS cx, (y-1)//32 + 1 AS cy, (z-1)//4 + 1 AS cz,
       |          count(*) AS n_fg FROM fg GROUP BY 1, 2, 3),
       | erc AS (SELECT (x-1)//32 + 1 AS cx, (y-1)//32 + 1 AS cy, (z-1)//4 + 1 AS cz,
       |          count(*) AS n_erode FROM er GROUP BY 1, 2, 3)
       |SELECT CAST(f.cx AS BIGINT) AS cx, CAST(f.cy AS BIGINT) AS cy,
       |       CAST(f.cz AS BIGINT) AS cz, CAST(f.n_fg AS BIGINT) AS n_fg,
       |       CAST(coalesce(e.n_erode, 0) AS BIGINT) AS n_erode
       |FROM fgc f LEFT JOIN erc e
       |  ON f.cx = e.cx AND f.cy = e.cy AND f.cz = e.cz""".stripMargin

  /** Per-section intensity profile + drift fit (a38) — the EM stack QC
    * every alignment pipeline runs before segmentation: mean brightness
    * per z-section plus a least-squares DRIFT line over (z, mean), so a
    * microscope gain ramp or illumination decay across sections is a
    * single slope number with per-section residual evidence. The fixture
    * volume carries a KNOWN injected ramp (`v = (7x+3y) mod 97 + 3z` —
    * noise independent of z, so the true drift is exactly 3/section,
    * spec-pinned) and the oracle regenerates the voxels from the same
    * closed form — the ingest→decode→aggregate path is what's under test.
    *
    * Scale shape: the per-section fold is the columnar voxel scan with a
    * map-side-combined (z) aggregation — section grain is O(depth) rows
    * at any lateral extent; the fit runs over that tiny relation with the
    * t18 exact-decimal regression discipline and attaches as a one-row
    * broadcast (the a21/c12 constant-attach class). */
  def a38_zprofile(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 8)
    val vol = demoVolume(spark, "a38", encoding = "raw")(demoFill(zRamp))
    val per = vol.toVoxels(demoExtent)
      .groupBy(col("z").cast(LongType).as("z"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(LongType)).as("vsum"))
      .select(col("z"), col("n"), col("vsum"),
        round(col("vsum").cast(DoubleType) / col("n"), 4).as("vmean"))
    val pts = per.select(col("z").cast(DoubleType).cast(dec).as("lx"),
      col("vmean").cast(dec).as("ly"))
    val s = pts.agg(count(lit(1)).cast(DoubleType).as("fn"),
      sum(col("lx")).cast(DoubleType).as("sx"),
      sum(col("ly")).cast(DoubleType).as("sy"),
      sum(col("lx") * col("ly")).cast(DoubleType).as("sxy"),
      sum(col("lx") * col("lx")).cast(DoubleType).as("sxx"))
    val slope = (col("fn") * col("sxy") - col("sx") * col("sy")) /
      (col("fn") * col("sxx") - col("sx") * col("sx"))
    per.crossJoin(broadcast(s))
      .select(col("z"), col("n"), col("vsum"), col("vmean"),
        round(slope, 4).as("drift"),
        round((col("sy") - slope * col("sx")) / col("fn"), 4).as("base"))
  }

  /** Oracle twin of [[a38_zprofile]]: voxels regenerated from the closed
    * form, same folds and regression arithmetic. */
  def a38OracleSql: String =
    s"""WITH g AS (SELECT x.x, y.y, z.z
       |           FROM range(1, 65) x(x), range(1, 65) y(y), range(1, 9) z(z)),
       | v AS (SELECT z, (x * 7 + y * 3) % 97 + 3 * z AS v FROM g),
       | per AS (SELECT CAST(z AS BIGINT) AS z, CAST(count(*) AS BIGINT) AS n,
       |          CAST(sum(v) AS BIGINT) AS vsum,
       |          round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS vmean
       |         FROM v GROUP BY z),
       | pts AS (SELECT CAST(CAST(z AS DOUBLE) AS DECIMAL(18,8)) AS lx,
       |          CAST(vmean AS DECIMAL(18,8)) AS ly FROM per),
       | s AS (SELECT CAST(count(*) AS DOUBLE) AS fn,
       |    CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
       |    -- vmean·z exceeds DECIMAL(18)'s int64 window at scale 16 (the
       |    -- t30 lesson); widening one factor keeps the product exact
       |    CAST(sum(CAST(lx AS DECIMAL(28,8)) * ly) AS DOUBLE) AS sxy,
       |    CAST(sum(CAST(lx AS DECIMAL(28,8)) * lx) AS DOUBLE) AS sxx FROM pts)
       |SELECT per.z, per.n, per.vsum, per.vmean,
       | round((s.fn*s.sxy - s.sx*s.sy)/(s.fn*s.sxx - s.sx*s.sx), 4) AS drift,
       | round((s.sy - ((s.fn*s.sxy - s.sx*s.sy)/(s.fn*s.sxx - s.sx*s.sx))*s.sx)/s.fn, 4) AS base
       |FROM per, s""".stripMargin

  /** Precomputed LEGACY MESH morphometry (a39) — the mesh side of the
    * neuroglancer "precomputed" layout this engine already reads voxels
    * from: per-segment manifests (`<segid>:0` JSON) name binary fragment
    * objects (uint32 vertex count, float32 xyz triplets, uint32 triangle
    * indices — [[graft.core.MeshFragment]]), and the morphometry a
    * proofreading/QC pipeline derives — vertex/face counts, bounding box,
    * total triangle surface area — folds per segment. The fixture writes
    * 24 deterministic tetrahedra (scale 1 + L mod 3, anchor (10L, L,
    * L mod 5)) through the REAL encoder, so the gate proves the byte
    * framing end-to-end: three faces of area 8s² and one of 8s²√3 only
    * come out if every float and index decoded exactly.
    *
    * Determinism: per-face area = √(|cross|²)/2 where |cross|² is an
    * EXACT integer in doubles (integer-coordinate edges), √ is IEEE
    * correctly-rounded, each face rounds at 8 decimals and accumulates as
    * an exact scaled long (engine) / DECIMAL(18,8) (oracle) — identical
    * order-insensitive sums, one final double division + round.
    *
    * Scale shape: manifests AND fragments are read as a distributed
    * binaryFile relation (no driver listing of segment ids — at 10⁸
    * segments the manifest set is itself a dataset); parse/decode/fold
    * run row-locally in one typed pass and reduce map-side at segment
    * grain. */
  def a39_mesh_stats(spark: SparkSession, dir: String): DataFrame = {
    val meshDir = new java.io.File(Scratch.dir("graft-a39"), "mesh"); meshDir.mkdirs()
    var lab = 1
    while (lab <= 24) {
      val s = 1 + lab % 3
      val (ax, ay, az) = (10f * lab, lab.toFloat, (lab % 5).toFloat)
      val verts = Array(
        ax, ay, az,
        ax + 4 * s, ay, az,
        ax, ay + 4 * s, az,
        ax, ay, az + 4 * s)
      val idx = Array(0, 1, 2, 0, 1, 3, 0, 2, 3, 1, 2, 3)
      // ':' is legal (and conventional) in object-store keys, but the
      // Hadoop local FileSystem rejects it — escape the PHYSICAL name
      // only ('~'), keeping the LOGICAL legacy names in the manifest
      val fragName = s"$lab:0:0"
      java.nio.file.Files.write(meshDir.toPath.resolve(fragName.replace(':', '~')),
        MeshFragment.encode(MeshFragment.Mesh(verts, idx)))
      java.nio.file.Files.write(meshDir.toPath.resolve(s"$lab~0"),
        MeshFragment.manifestJson(Seq(fragName)).getBytes("UTF-8"))
      lab += 1
    }
    val files = spark.read.format("binaryFile").load(meshDir.toString)
      .select(col("path"), col("content"))
    implicit val manEnc = Encoders.product[(Long, String)]
    implicit val statEnc =
      Encoders.product[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    val named = files.withColumn("name",
      translate(element_at(split(col("path"), "/"), -1), "~", ":"))
    // manifests: "<segid>:0" (two fields); fragments: "<segid>:0:<i>"
    val manifests = named.filter(size(split(col("name"), ":")) === 2)
      .select(col("name"), col("content")).as(Encoders.product[(String, Array[Byte])])
      .flatMap { case (name, bytes) =>
        val seg = name.split(":")(0).toLong
        MeshFragment.parseManifest(new String(bytes, "UTF-8")).map(f => (seg, f))
      }.toDF("label", "frag")
    val fragStats = named.filter(size(split(col("name"), ":")) === 3)
      .select(col("name"), col("content")).as(Encoders.product[(String, Array[Byte])])
      .map { case (name, bytes) =>
        val m = MeshFragment.decode(bytes)
        var (mnx, mny, mnz) = (Long.MaxValue, Long.MaxValue, Long.MaxValue)
        var (mxx, mxy, mxz) = (Long.MinValue, Long.MinValue, Long.MinValue)
        var i = 0
        while (i < m.numVertices) {
          val x = m.vertices(3 * i).toLong
          val y = m.vertices(3 * i + 1).toLong
          val z = m.vertices(3 * i + 2).toLong
          if (x < mnx) mnx = x; if (x > mxx) mxx = x
          if (y < mny) mny = y; if (y > mxy) mxy = y
          if (z < mnz) mnz = z; if (z > mxz) mxz = z
          i += 1
        }
        var a8 = 0L
        var f = 0
        while (f < m.numFaces) {
          val (a, b, c) = (m.indices(3 * f), m.indices(3 * f + 1), m.indices(3 * f + 2))
          def vx(k: Int, d: Int) = m.vertices(3 * k + d).toDouble
          val (e1x, e1y, e1z) = (vx(b, 0) - vx(a, 0), vx(b, 1) - vx(a, 1), vx(b, 2) - vx(a, 2))
          val (e2x, e2y, e2z) = (vx(c, 0) - vx(a, 0), vx(c, 1) - vx(a, 1), vx(c, 2) - vx(a, 2))
          val cx = e1y * e2z - e1z * e2y
          val cy = e1z * e2x - e1x * e2z
          val cz = e1x * e2y - e1y * e2x
          val area = math.sqrt(cx * cx + cy * cy + cz * cz) / 2.0
          a8 += java.math.BigDecimal.valueOf(area)
            .setScale(8, java.math.RoundingMode.HALF_UP).movePointRight(8).longValueExact()
          f += 1
        }
        (name, m.numVertices.toLong, m.numFaces.toLong,
          mnx, mxx, mny, mxy, mnz, mxz, a8)
      }
      .toDF("name", "nv", "nf", "min_x", "max_x", "min_y", "max_y", "min_z", "max_z", "a8")
    // the manifest drives coverage: a fragment object not named by any
    // manifest is garbage and must not count
    manifests.join(fragStats, manifests("frag") === fragStats("name"))
      .groupBy(col("label"))
      .agg(sum(col("nv")).as("n_vertices"), sum(col("nf")).as("n_faces"),
        min(col("min_x")).as("min_x"), max(col("max_x")).as("max_x"),
        min(col("min_y")).as("min_y"), max(col("max_y")).as("max_y"),
        min(col("min_z")).as("min_z"), max(col("max_z")).as("max_z"),
        sum(col("a8")).as("sa8"))
      .select(col("label"), col("n_vertices"), col("n_faces"),
        col("min_x"), col("max_x"), col("min_y"), col("max_y"),
        col("min_z"), col("max_z"),
        round(col("sa8").cast(DoubleType) / 100000000.0, 4).as("area"))
  }

  /** Oracle twin of [[a39_mesh_stats]]: the tetrahedra regenerated in
    * closed form — three axis faces of |cross|² = 256s⁴ and one oblique
    * of 768s⁴ — with the same per-face √, 8-decimal rounding, exact sum,
    * and final division. */
  def a39OracleSql: String =
    s"""WITH l AS (SELECT unnest(range(1, 25)) AS lab),
       | p AS (SELECT lab, 1 + lab % 3 AS s FROM l),
       | f AS (SELECT lab, unnest([CAST(256 AS BIGINT)*s*s*s*s, 256*s*s*s*s,
       |                           256*s*s*s*s, 768*s*s*s*s]) AS c2 FROM p),
       | a AS (SELECT lab, CAST(round(sqrt(CAST(c2 AS DOUBLE)) / 2, 8) AS DECIMAL(18,8)) AS ar
       |       FROM f),
       | g AS (SELECT lab, CAST(sum(ar) AS DOUBLE) AS tot FROM a GROUP BY lab)
       |SELECT p.lab AS label, CAST(4 AS BIGINT) AS n_vertices, CAST(4 AS BIGINT) AS n_faces,
       | CAST(10 * p.lab AS BIGINT) AS min_x, CAST(10 * p.lab + 4 * p.s AS BIGINT) AS max_x,
       | CAST(p.lab AS BIGINT) AS min_y, CAST(p.lab + 4 * p.s AS BIGINT) AS max_y,
       | CAST(p.lab % 5 AS BIGINT) AS min_z, CAST(p.lab % 5 + 4 * p.s AS BIGINT) AS max_z,
       | round(g.tot, 4) AS area
       |FROM p JOIN g ON g.lab = p.lab""".stripMargin

  /** Distributed morphological OPENING under the oracle gate (a37) —
    * erode→dilate fused as ONE decode pass per chunk
    * ([[graft.volume.Volume.localOpen]]) plus this O(surface) relational
    * combiner, completing the halo-exchange morphology family (a17
    * dilation, a18 erosion, a37 their composition — the speckle /
    * thin-bridge denoise pass run over segmentation masks before any
    * geometry is measured).
    *
    * Combiner stages (every relation O(surface)):
    *  1. confirm erosion of the seam candidates exactly as a18 does
    *     (needs left-join face presence proofs, all-confirmed survive);
    *  2. explode each CONFIRMED candidate's owner-resolved 7-neighborhood
    *     `targets` (computed in-kernel — the a17 spill device), dedup
    *     coordinate-wise (a corner target arrives from several sources);
    *  3. anti-join the `rim` (locally-opened voxels within distance 1 of
    *     a face — the only region where additions can collide with
    *     locally-decided openings) and fold survivors per OWNER chunk;
    *  4. add to the kernel's exact `n_open_loc`.
    * The voxel relation never shuffles; at petavoxel scale only face-deep
    * halos move — the same argument as a17/a18, paid once for the fused
    * pair instead of twice for a two-pass composition. */
  private[graft] def openStats(localOpen: DataFrame): DataFrame = {
    val lo = Tables.materialize(localOpen)
    val cand = lo.select(explode(col("cand")).as("c"))
      .select(col("c.x").as("x"), col("c.y").as("y"), col("c.z").as("z"),
        col("c.targets").as("targets"))
    val confirmed = confirmedCands(lo).select(col("x"), col("y"), col("z"))
    val additions = cand.join(confirmed, Seq("x", "y", "z"))
      .select(explode(col("targets")).as("t"))
      .select(col("t.tcx").as("cx"), col("t.tcy").as("cy"), col("t.tcz").as("cz"),
        col("t.x").as("x"), col("t.y").as("y"), col("t.z").as("z"))
    val rim = lo.select(explode(col("rim")).as("r"))
      .select(col("r.x").as("x"), col("r.y").as("y"), col("r.z").as("z"))
    addPerOwner(lo, "n_open_loc", "n_open", additions, rim)
  }

  /** The a37 gate drive: the a18 dense lattice mask (~96% fg — holes at
    * (7x+3y+5z) ≡ 0 mod 23), whose opening removes the shell erosion cuts
    * around every hole and regrows the rest, exercising confirmations AND
    * cross-seam dilation in all six directions. Dumps the foreground for
    * the oracle's relational replay. */
  def a37_opening(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a37", "segmentation")(demoFill(denseMask))
    dumpForeground(vol, "a37")
    openStats(vol.localOpen(demoExtent))
  }

  /** Oracle twin of [[a37_opening]]: erosion as the 6-neighbor
    * count-equals-6 check (a18's formulation — out-of-box neighbors are
    * absent from the dump, so box-face voxels drop out), dilation of the
    * eroded set as the 7-shift DISTINCT union (a17's formulation; an
    * eroded voxel is ≥ 1 inside the box, so no clip is needed), with the
    * same 1-based chunk-id arithmetic. */
  def a37OracleSql: String =
    s"""WITH fg AS (SELECT x, y, z FROM read_parquet('$voxelDumpRoot/a37/*.parquet')),
       | d6 AS (SELECT * FROM (VALUES (1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1))
       |        t(dx, dy, dz)),
       | d7 AS (SELECT * FROM (VALUES (0,0,0),(1,0,0),(-1,0,0),(0,1,0),(0,-1,0),(0,0,1),(0,0,-1))
       |        t(dx, dy, dz)),
       | nb AS (SELECT f.x, f.y, f.z, count(*) AS cnt
       |        FROM fg f CROSS JOIN d6 s
       |        JOIN fg n ON n.x = f.x + s.dx AND n.y = f.y + s.dy AND n.z = f.z + s.dz
       |        GROUP BY 1, 2, 3),
       | er AS (SELECT x, y, z FROM nb WHERE cnt = 6),
       | op AS (SELECT DISTINCT e.x + s.dx AS x, e.y + s.dy AS y, e.z + s.dz AS z
       |        FROM er e CROSS JOIN d7 s),
       | fgc AS (SELECT (x-1)//32 + 1 AS cx, (y-1)//32 + 1 AS cy, (z-1)//4 + 1 AS cz,
       |          count(*) AS n_fg FROM fg GROUP BY 1, 2, 3),
       | opc AS (SELECT (x-1)//32 + 1 AS cx, (y-1)//32 + 1 AS cy, (z-1)//4 + 1 AS cz,
       |          count(*) AS n_open FROM op GROUP BY 1, 2, 3)
       |SELECT CAST(coalesce(f.cx, o.cx) AS BIGINT) AS cx,
       |       CAST(coalesce(f.cy, o.cy) AS BIGINT) AS cy,
       |       CAST(coalesce(f.cz, o.cz) AS BIGINT) AS cz,
       |       CAST(coalesce(f.n_fg, 0) AS BIGINT) AS n_fg,
       |       CAST(coalesce(o.n_open, 0) AS BIGINT) AS n_open
       |FROM fgc f FULL OUTER JOIN opc o
       |  ON f.cx = o.cx AND f.cy = o.cy AND f.cz = o.cz""".stripMargin

  /** EXACT distributed intensity percentiles via histogram fold (a21) —
    * the contrast-normalization quantiles imaging QC derives per volume
    * (window/level presets, percentile normalization before training).
    * At petavoxel scale you never sort voxels for a quantile: the value
    * domain is DISCRETE (uint8 here — 256 possible values), so a
    * map-side-combined `groupBy(value).count` reduces the whole volume to
    * ≤256 rows, a window cumsum orders them once, and every percentile is
    * EXACT — `p_q` = the smallest value whose cumulative count reaches
    * ⌈q·n⌉. One tiny shuffle of (value → count) partials; the voxel
    * relation itself never moves. The oracle replays the same cumulative
    * rule over the dumped voxels. */
  def a21_percentiles(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a21")(demoFill(skewed))
    val dump = s"$voxelDumpRoot/a21"
    vol.toVoxels(demoExtent)
      .select(col("value").cast(LongType).as("value"))
      .write.mode("overwrite").parquet(dump)
    val hist = Tables.parquet(spark, dump)
      .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cc", sum(col("cnt")).over(
      Window.orderBy(col("value")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = hist.agg(sum(col("cnt")).as("n_voxels"))
    def pct(q: Double): Column =
      min(when(col("cc") >= ceil(lit(q) * col("n_voxels")), col("value"))).as(s"p${(q * 100).toInt}")
    cum.crossJoin(broadcast(n))
      .agg(max(col("n_voxels")).as("n_voxels"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        pct(0.5), pct(0.9), pct(0.99))
  }

  /** Max-intensity projection (a27) — the standard 2D rendering of a 3D
    * stack (what every neuroglancer-style viewer and QC thumbnail pipeline
    * computes): per (x, y) column, the maximum voxel value over the full z
    * extent, read through the real store. Uses a z-varying deterministic
    * field so the projection actually selects different depths per column.
    *
    * Scale shape: the projection is ONE map-side-combined max aggregation
    * — each chunk contributes (x, y)-grain partial maxima from its own
    * decode pass, so the exchange carries image-sized partials (depth×
    * smaller than the volume; at petavoxel scale, a 2D image vs a 3D
    * stack) and voxels never shuffle. The voxel relation is dumped first
    * so the DuckDB oracle re-derives the same projection from the same
    * rows (store-roundtrip exactness is VolumeSpec's job). */
  def a27_mip_project(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a27")(demoFill(depthMix))
    val dump = s"$voxelDumpRoot/a27"
    vol.toVoxels(demoExtent)
      .select(col("x"), col("y"), col("value").cast(LongType).as("value"))
      .write.mode("overwrite").parquet(dump)
    Tables.parquet(spark, dump)
      .groupBy(col("x"), col("y")).agg(max(col("value")).as("mx"))
  }

  /** Oracle twin of [[a27_mip_project]]: the same per-(x,y) max over the
    * dumped voxel relation. */
  def a27OracleSql: String =
    s"""SELECT x, y, max(value) AS mx
       |FROM read_parquet('$voxelDumpRoot/a27/*.parquet') GROUP BY x, y""".stripMargin

  /** Oracle twin of [[a21_percentiles]]: the same histogram → cumulative
    * count → smallest-value-reaching-⌈q·n⌉ rule over the dumped voxels. */
  def a21OracleSql: String =
    s"""WITH v AS (SELECT value FROM read_parquet('$voxelDumpRoot/a21/*.parquet')),
       | h AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
       | n AS (SELECT sum(cnt) AS n_voxels FROM h),
       | c AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cc FROM h)
       |SELECT CAST(n.n_voxels AS BIGINT) AS n_voxels,
       | (SELECT min(value) FROM h) AS vmin, (SELECT max(value) FROM h) AS vmax,
       | (SELECT min(value) FROM c WHERE cc >= ceil(0.5 * n.n_voxels)) AS p50,
       | (SELECT min(value) FROM c WHERE cc >= ceil(0.9 * n.n_voxels)) AS p90,
       | (SELECT min(value) FROM c WHERE cc >= ceil(0.99 * n.n_voxels)) AS p99
       |FROM n""".stripMargin

  /** Distributed CONTACT-AREA extraction under the oracle gate (a20) —
    * the connectomics "contact sites" operator completing the halo-exchange
    * morphology family (a16 components, a17 dilate, a18 erode): per pair of
    * distinct nonzero segment labels, count the 6-adjacent voxel pairs
    * where the two segments touch (the quantity synapse-candidate and
    * segment-adjacency-graph pipelines aggregate over petavoxel
    * segmentations). Three scale-shaped stages:
    *  1. chunk-local pass ([[graft.volume.Volume.localContacts]]) — one
    *     decode per chunk; in-cut +x/+y/+z pairs fold into a per-chunk
    *     (la, lb)→count map; positive faces emit O(surface) `probe` rows,
    *     negative faces O(surface) `negface` presence rows;
    *  2. seam pairs: probe⋈negface on coordinates (each seam pair formed
    *     exactly once, by the lower chunk's probe) with differing labels;
    *  3. local maps explode and union with the seam pairs into per-pair
    *     totals. The voxel relation never shuffles — only face-deep halos
    *     move. Output grain: (la, lb, n_pairs), la < lb, both nonzero. The
    *     oracle replays adjacency as a 3-positive-shift self-join over the
    *     dumped labeled voxels. */
  def a20_contact_area(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a20", "segmentation")(demoFill(contactLabels))
    vol.toVoxels(demoExtent).filter(col("value") =!= 0)
      .select(col("x"), col("y"), col("z"), col("value").cast(LongType).as("label"))
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/a20")
    contactStats(vol.localContacts(demoExtent))
  }

  /** Stages 2+3 of distributed contact extraction over a
    * [[graft.volume.Volume.localContacts]] relation. Exposed separately so
    * specs can drive it over arbitrary volumes. */
  private[graft] def contactStats(localContacts: DataFrame): DataFrame = {
    // materialized: consumed by the local-pair explode AND both halo sides
    val lc = Tables.materialize(localContacts)
    val localPairs = lc.select(explode(col("pairs")).as("p"))
      .select(col("p.la").as("la"), col("p.lb").as("lb"), col("p.n").as("n"))
    val probes = lc.select(explode(col("probe")).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"), col("p.z").as("z"),
        col("p.label").as("l1"))
    val negface = lc.select(explode(col("negface")).as("t"))
      .select(col("t.x").as("x"), col("t.y").as("y"), col("t.z").as("z"),
        col("t.label").as("l2"))
    val seamPairs = probes.join(negface, Seq("x", "y", "z"))
      .filter(col("l1") =!= col("l2"))
      .select(least(col("l1"), col("l2")).as("la"),
        greatest(col("l1"), col("l2")).as("lb"), lit(1L).as("n"))
    localPairs.unionByName(seamPairs)
      .groupBy(col("la"), col("lb")).agg(sum(col("n")).as("n_pairs"))
      .orderBy(col("la"), col("lb"))
  }

  /** Oracle twin of [[a20_contact_area]]: adjacency as a 3-positive-shift
    * self-join over the dumped labeled voxels — each unordered adjacent
    * pair appears exactly once because only positive shifts are probed. */
  def a20OracleSql: String =
    s"""WITH fg AS (SELECT x, y, z, label FROM read_parquet('$voxelDumpRoot/a20/*.parquet')),
       | d AS (SELECT * FROM (VALUES (1,0,0),(0,1,0),(0,0,1)) t(dx, dy, dz)),
       | pr AS (SELECT least(f.label, n.label) AS la, greatest(f.label, n.label) AS lb
       |        FROM fg f CROSS JOIN d s
       |        JOIN fg n ON n.x = f.x + s.dx AND n.y = f.y + s.dy AND n.z = f.z + s.dz
       |        WHERE f.label <> n.label)
       |SELECT CAST(la AS BIGINT) AS la, CAST(lb AS BIGINT) AS lb,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pr GROUP BY 1, 2""".stripMargin

  /** Z-order (Morton) chunk layout: the demo grid keyed by the native
    * `zorder_key` expression and range-partitioned on it — the
    * multi-dimensional clustering layout that makes 3-d box queries read a
    * few contiguous key ranges instead of scattering over the store. The
    * oracle replays the bit-interleave in DuckDB from the same mask
    * constants. */
  def a8_zorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrderExpr
    val ids = Grid.idRanges(demoBox, demoChunk, demoOffset)
    spark.range(1).select(explode(sequence(lit(ids.lox), lit(ids.hix))).as("cx"))
      .select(col("cx"), explode(sequence(lit(ids.loy), lit(ids.hiy))).as("cy"))
      .select(col("cx"), col("cy"), explode(sequence(lit(ids.loz), lit(ids.hiz))).as("cz"))
      .select(col("cx").cast(IntegerType).as("cx"), col("cy").cast(IntegerType).as("cy"),
        col("cz").cast(IntegerType).as("cz"))
      .withColumn("zkey", ZOrderExpr.zorder_key(col("cx"), col("cy"), col("cz")))
      // the intended layout use: co-locate spatially adjacent cells
      .repartitionByRange(8, col("zkey"))
  }

  /** DuckDB oracle twin of [[a8_zorder]]: the same spread steps generated
    * from [[graft.functions.ZOrderExpr.SpreadMasks]] as a chain of nested
    * selects (constants can never drift). */
  def a8OracleSql: String = {
    import graft.functions.ZOrderExpr.{CoordMask, SpreadMasks}
    val ids = Grid.idRanges(demoBox, demoChunk, demoOffset)
    val grid = s"SELECT cx, cy, cz FROM (SELECT unnest(generate_series(${ids.lox},${ids.hix})) AS cx), " +
      s"(SELECT unnest(generate_series(${ids.loy},${ids.hiy})) AS cy), " +
      s"(SELECT unnest(generate_series(${ids.loz},${ids.hiz})) AS cz)"
    var q = s"SELECT cx, cy, cz, (cx & $CoordMask) AS x0, (cy & $CoordMask) AS y0, (cz & $CoordMask) AS z0 FROM ($grid)"
    SpreadMasks.zipWithIndex.foreach { case ((sh, m), i) =>
      q = s"SELECT cx, cy, cz, ((x$i | (x$i << $sh)) & $m) AS x${i + 1}, " +
        s"((y$i | (y$i << $sh)) & $m) AS y${i + 1}, ((z$i | (z$i << $sh)) & $m) AS z${i + 1} FROM ($q)"
    }
    val n = SpreadMasks.length
    s"SELECT CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy, CAST(cz AS INT) AS cz, " +
      s"(x$n | (y$n << 1) | (z$n << 2)) AS zkey FROM ($q)"
  }

  def a5OracleSql: String =
    """SELECT CAST(1 AS INT) AS mip,
      | CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy, CAST(cz AS INT) AS cz,
      | CAST((cx-1)*32+1 AS INT) AS x0, CAST(cx*32 AS INT) AS x1,
      | CAST((cy-1)*32+1 AS INT) AS y0, CAST(cy*32 AS INT) AS y1,
      | CAST((cz-1)*4+1 AS INT) AS z0, CAST(cz*4 AS INT) AS z1,
      | ((cx-1)*32) || '-' || (cx*32) || '_' || ((cy-1)*32) || '-' || (cy*32) ||
      |   '_' || ((cz-1)*4) || '-' || (cz*4) AS key
      |FROM (SELECT unnest(generate_series(1,2)) AS cx),
      |     (SELECT unnest(generate_series(1,2)) AS cy),
      |     (SELECT unnest(generate_series(1,2)) AS cz)""".stripMargin

  /** The deterministic overlapping ROI set a23 gathers: 12 boxes of
    * 16×16×4 voxels scattered by coprime strides so neighbors overlap in
    * x/y and share z-slabs — overlap is the POINT (shared chunks must
    * decode once, voxels in two ROIs must count twice). Shared between the
    * Spark query and the oracle's VALUES table. */
  private[ops] val a23Rois: Seq[(Long, Int, Int, Int, Int, Int, Int)] =
    (0 until 12).map { i =>
      val x0 = (i * 13) % 48 + 1; val y0 = (i * 19) % 48 + 1; val z0 = i % 4 + 1
      (i.toLong, x0, x0 + 15, y0, y0 + 15, z0, z0 + 3)
    }

  /** Batch multi-ROI gather under the oracle gate (a23) — the
    * training-patch extraction shape: a batch of (possibly overlapping)
    * ROIs is served from a chunked volume in ONE pass. Every chunk in the
    * ROI union decodes exactly once ([[graft.volume.Volume.toVoxels]]
    * over the union bounding box); each decoded voxel then assigns itself
    * to every covering ROI ROW-LOCALLY — `filter` + `explode` over the
    * broadcast-constant ROI array, a codegen projection, never a
    * voxel×ROI join — and reduces to per-ROI stats. Per-ROI batch reads
    * are how a training loader samples patches from a petavoxel store;
    * the naive per-ROI cutout loop re-fetches and re-decodes every shared
    * chunk per ROI, which this plan structurally cannot do. At production
    * scale the ROI list additionally prunes the chunk PLAN (skip chunks
    * intersecting no ROI — the same box pushdown the DSv2 scan does for
    * one box); at gate scale the union box covers the volume, so the
    * pruning would be a no-op here. Output grain: one row per ROI. */
  def a23_roi_gather(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a23")(demoFill(roiField))
    val vox = vol.toVoxels(demoExtent)
    vox.write.mode("overwrite").parquet(s"$voxelDumpRoot/a23")
    val roiArr = array(a23Rois.map { case (id, x0, x1, y0, y1, z0, z1) =>
      struct(lit(id).as("id"), lit(x0).as("x0"), lit(x1).as("x1"),
        lit(y0).as("y0"), lit(y1).as("y1"), lit(z0).as("z0"), lit(z1).as("z1"))
    }: _*)
    Tables.parquet(spark, s"$voxelDumpRoot/a23")
      .withColumn("__rois", roiArr)
      .select(col("value"), explode(expr(
        "filter(__rois, r -> x >= r.x0 AND x <= r.x1 AND y >= r.y0 AND y <= r.y1" +
          " AND z >= r.z0 AND z <= r.z1)")).as("r"))
      .groupBy(col("r.id").as("roi_id"))
      .agg(count(lit(1)).as("n_vox"),
        sum(col("value").cast(LongType)).as("vsum"),
        min(col("value")).cast(LongType).as("vmin"),
        max(col("value")).cast(LongType).as("vmax"))
      .orderBy(col("roi_id"))
  }

  /** Global histogram equalization with store write-back (a24) — the
    * two-pass data-dependent normalization job a petavoxel imaging
    * pipeline runs before training (contrast normalization, window/level
    * burn-in): PASS 1 reduces the volume to its ≤256-row intensity
    * histogram (map-side combined — the voxel relation collapses to value
    * grain before any exchange); the classic equalization LUT
    * `eq(v) = (cdf(v) − cdf_min) · 255 / (n − cdf_min)` (integer floor —
    * engine-exact) is derived on that tiny relation with one window
    * cumsum; PASS 2 re-reads the volume, maps every voxel through the
    * BROADCAST value-grain LUT (a ≤256-row equi-join — never a shuffle of
    * voxels), and writes the result back through the REAL store
    * ([[graft.volume.Volume.fromVoxels]] — one shuffle by destination
    * chunk id, the write's inherent partitioning). The gate re-opens the
    * DESTINATION volume and aggregates per chunk, so it certifies fit →
    * broadcast-apply → store write → re-read end-to-end. */
  def a24_hist_equalize(spark: SparkSession, dir: String): DataFrame = {
    // a21's skewed quadratic field: equalization must visibly stretch it
    val src = demoVolume(spark, "a24-src")(demoFill(skewed))
    longVoxels(src.toVoxels(demoExtent)).write.mode("overwrite").parquet(s"$voxelDumpRoot/a24")
    val dumped = Tables.parquet(spark, s"$voxelDumpRoot/a24")
    val hist = dumped.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cc", sum(col("cnt")).over(
      Window.orderBy(col("value")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val consts = cum.agg(min(col("cc")).as("ccmin"), sum(col("cnt")).as("n"))
    val lut = cum.crossJoin(broadcast(consts))
      // integer DIV, not double division + floor: a quotient landing 1 ulp
      // under an integer boundary would round differently across engines
      .select(col("value"),
        expr("(cc - ccmin) * 255 DIV (n - ccmin)").cast(LongType).as("eq"))
    writeBack(src, "a24-dst", dumped.join(broadcast(lut), Seq("value"))
      .select(col("x"), col("y"), col("z"), col("eq").as("value")))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("vsum"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .orderBy(col("cx"), col("cy"), col("cz"))
  }

  /** Write `voxels` back through a fresh store shaped like `src`, reopen it,
    * and group its voxels (`v`, as BIGINT) per 32×32×4 chunk — the census
    * shape of the a24/a36/a41 write-back gates. */
  private def writeBack(src: Volume, tag: String,
      voxels: DataFrame): RelationalGroupedDataset = {
    val dst = Volume.create(src.spark, Scratch.dir(s"graft-$tag"), src.meta)
    dst.fromVoxels(voxels)
    Volume.open(src.spark, dst.root).toVoxels(demoExtent)
      .select(expr("(x - 1) DIV 32 + 1").as("cx"), expr("(y - 1) DIV 32 + 1").as("cy"),
        expr("(z - 1) DIV 4 + 1").as("cz"), col("value").cast(LongType).as("v"))
      .groupBy(col("cx"), col("cy"), col("cz"))
  }

  /** Oracle twin of [[a24_hist_equalize]]: the same histogram → cumsum →
    * integer-floor LUT → apply → per-chunk aggregation, replayed over the
    * PRE-equalization dump — matching only if the engine's LUT math and
    * the store write/read roundtrip are both exact. */
  def a24OracleSql: String =
    s"""WITH v AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a24/*.parquet')),
       | h AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
       | cm AS (SELECT value, cnt,
       |         sum(cnt) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
       |        FROM h),
       | ct AS (SELECT min(cc) AS ccmin, sum(cnt) AS n FROM cm),
       | lut AS (SELECT value, CAST((cc - ccmin) * 255 // (n - ccmin) AS BIGINT) AS eq
       |         FROM cm, ct),
       | ev AS (SELECT v.x, v.y, v.z, l.eq AS v FROM v JOIN lut l USING (value))
       |SELECT CAST((x - 1) // 32 + 1 AS BIGINT) AS cx,
       |       CAST((y - 1) // 32 + 1 AS BIGINT) AS cy,
       |       CAST((z - 1) // 4 + 1 AS BIGINT) AS cz,
       |       CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS vsum,
       |       CAST(min(v) AS BIGINT) AS vmin, CAST(max(v) AS BIGINT) AS vmax
       |FROM ev GROUP BY 1, 2, 3""".stripMargin

  /** Otsu auto-threshold + binarization write-back (a36) — the classic
    * first step of EM segmentation (separate tissue from background
    * without a hand-picked cutoff): the global exact histogram (a21's
    * machinery) yields, for every candidate threshold t, the
    * between-class variance `σ²_B(t) = (s0·n − cc·s)² / (cc·(n−cc))`
    * (cc/s0 = cumulative count/mass at t; n/s = totals) and the argmax is
    * the threshold. Determinism discipline: the numerator difference is
    * EXACT BIGINT (≤ 255·n·n, inside 2^53 so the double cast is exact),
    * the square/divide is the identical IEEE chain in both engines, and
    * the argmax ties to the smaller t — the ranking cannot drift. The
    * chosen threshold then drives a BINARIZE write-back through the full
    * distributed store path (fromVoxels → chunk objects → reopen), and
    * the gate is the per-chunk foreground census with the threshold
    * attached — wrong by one grey level anywhere and the census moves.
    * The synthetic field is BIMODAL by construction (dark 30–69 vs
    * bright 160–219 on a deterministic mode bit), so the argmax is a
    * genuine valley, not a degenerate edge.
    *
    * Scale shape: one scan builds the 256-bucket histogram (map-side
    * combined), the Otsu scan is window algebra over 256 rows, the
    * threshold is a one-row driver scalar (dimension grain), and the
    * write-back is the single-shuffle fromVoxels path. */
  def a36_otsu_threshold(spark: SparkSession, dir: String): DataFrame = {
    val src = demoVolume(spark, "a36-src")(demoFill(bimodal))
    longVoxels(src.toVoxels(demoExtent)).write.mode("overwrite").parquet(s"$voxelDumpRoot/a36")
    val dumped = Tables.parquet(spark, s"$voxelDumpRoot/a36")
    val hist = dumped.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("value")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cc", sum(col("cnt")).over(w))
      .withColumn("s0", sum(col("cnt") * col("value")).over(w))
    val tot = cum.agg(max(col("cc")).as("n"), max(col("s0")).as("s")).head()
    val (n, s) = (tot.getLong(0), tot.getLong(1))
    val thr = cum.filter(col("cc") < n) // cc == n has an empty upper class
      .select(col("value"),
        (expr(s"CAST(s0 * $n - cc * $s AS DOUBLE)") * expr(s"CAST(s0 * $n - cc * $s AS DOUBLE)")
          / expr(s"CAST(cc * ($n - cc) AS DOUBLE)")).as("sigma"))
      .withColumn("r", row_number().over(Window.orderBy(col("sigma").desc, col("value").asc)))
      .filter(col("r") === 1).select(col("value")).head().getLong(0)
    writeBack(src, "a36-dst", dumped.select(col("x"), col("y"), col("z"),
        when(col("value") > thr, 255L).otherwise(0L).as("value")))
      .agg(count(lit(1)).as("n"), sum(when(col("v") === 255L, 1L).otherwise(0L)).as("n_fg"))
      .select(col("cx"), col("cy"), col("cz"), col("n"), col("n_fg"), lit(thr).as("thr"))
      .orderBy(col("cx"), col("cy"), col("cz"))
  }

  /** Oracle twin of [[a36_otsu_threshold]]: histogram → cumulative
    * count/mass → the identical exact-BIGINT/IEEE σ²_B chain → argmax
    * (ties to smaller t) → binarize → per-chunk foreground census, all
    * replayed over the pre-threshold dump. */
  def a36OracleSql: String =
    s"""WITH v AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a36/*.parquet')),
       | h AS (SELECT value, count(*) AS cnt FROM v GROUP BY value),
       | cm AS (SELECT value, cnt,
       |         sum(cnt) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
       |         sum(cnt * value) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0
       |        FROM h),
       | ct AS (SELECT max(cc) AS n, max(s0) AS s FROM cm),
       | sg AS (SELECT value,
       |         CAST(s0 * n - cc * s AS DOUBLE) * CAST(s0 * n - cc * s AS DOUBLE)
       |           / CAST(cc * (n - cc) AS DOUBLE) AS sigma
       |        FROM cm, ct WHERE cc < n),
       | th AS (SELECT value AS thr FROM sg
       |        ORDER BY sigma DESC, value ASC LIMIT 1),
       | bv AS (SELECT x, y, z, CASE WHEN value > thr THEN 255 ELSE 0 END AS v FROM v, th)
       |SELECT CAST((x - 1) // 32 + 1 AS BIGINT) AS cx,
       |       CAST((y - 1) // 32 + 1 AS BIGINT) AS cy,
       |       CAST((z - 1) // 4 + 1 AS BIGINT) AS cz,
       |       CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(CASE WHEN v = 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_fg,
       |       CAST(max(th.thr) AS BIGINT) AS thr
       |FROM bv, th GROUP BY 1, 2, 3""".stripMargin

  /** The deterministic ROI batch a26 serves, in mip-1 coordinates:
    * (id, x0, x1, y0, y1, z0, z1). Small and large spans mixed so BOTH
    * mip branches are exercised. Shared with the oracle's VALUES table. */
  private[ops] val a26Rois: Seq[(Long, Int, Int, Int, Int, Int, Int)] =
    (0 until 10).map { i =>
      val big = i % 2 == 1 // alternate small (fits mip 1) and large spans
      val sx = if (big) 40 else 12
      val sy = if (big) 40 else 12
      val x0 = (i * 11) % (64 - sx) + 1; val y0 = (i * 23) % (64 - sy) + 1
      val z0 = i % 4 + 1
      (i.toLong, x0, x0 + sx - 1, y0, y0 + sy - 1, z0, z0 + 3)
    }

  /** Per-ROI voxel budget for [[a26_mip_select]]: an ROI whose mip-1 span
    * exceeds this is served from mip 2 (the neuroglancer rule: pick the
    * level that fits the client's pixel/patch budget). 12·12·4 fits;
    * 40·40·4 does not. */
  val A26Budget = 1000L

  /** Mip-aware ROI serving (a26) — the pyramid consumption rule every
    * viewer and patch loader applies: given a batch of ROIs and a voxel
    * budget, serve each ROI from the COARSEST-necessary mip — full-res
    * when the span fits the budget, the next pyramid level otherwise
    * (coords fold by the mip grid map `x' = (x−1)//2 + 1`; z unscaled,
    * matching the reference's generate_next_mip which halves x/y only).
    * The decision is pure arithmetic on the ROI (no data touched), so at
    * petavoxel scale the plan never reads a level it won't serve; within
    * a level the gather is a23's one-pass shape. The gate emits each
    * ROI's chosen mip + served stats; the oracle replays the budget rule
    * and the grid fold over per-mip dumps. */
  def a26_mip_select(spark: SparkSession, dir: String): DataFrame = {
    val vol = demoVolume(spark, "a26", mips = 2)(demoFill(pyramidField))
    VolumeOps.buildNextMip(vol, demoExtent)
    vol.toVoxels(demoExtent)
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/a26m1")
    new Volume(spark, vol.root, vol.meta, 2)
      .toVoxels(Box(1, 32, 1, 32, 1, 8))
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/a26m2")
    // serve: arithmetic mip choice, then a23's row-local gather per level
    val served = a26Rois.map { case (id, x0, x1, y0, y1, z0, z1) =>
      val nvox = (x1 - x0 + 1).toLong * (y1 - y0 + 1) * (z1 - z0 + 1)
      if (nvox <= A26Budget)
        Tables.parquet(spark, s"$voxelDumpRoot/a26m1")
          .filter(col("x").between(x0, x1) && col("y").between(y0, y1) &&
            col("z").between(z0, z1))
          .agg(count(lit(1)).as("n_vox"),
            sum(col("value").cast(LongType)).as("vsum"))
          .select(lit(id).as("roi_id"), lit(1L).as("mip"), col("n_vox"), col("vsum"))
      else {
        val (fx0, fx1) = ((x0 - 1) / 2 + 1, (x1 - 1) / 2 + 1)
        val (fy0, fy1) = ((y0 - 1) / 2 + 1, (y1 - 1) / 2 + 1)
        Tables.parquet(spark, s"$voxelDumpRoot/a26m2")
          .filter(col("x").between(fx0, fx1) && col("y").between(fy0, fy1) &&
            col("z").between(z0, z1))
          .agg(count(lit(1)).as("n_vox"),
            sum(col("value").cast(LongType)).as("vsum"))
          .select(lit(id).as("roi_id"), lit(2L).as("mip"), col("n_vox"), col("vsum"))
      }
    }
    served.reduce(_ unionByName _).orderBy(col("roi_id"))
  }

  /** Oracle twin of [[a26_mip_select]]: the same ROI constants, budget
    * rule, and grid fold, replayed over the per-mip dumps. */
  def a26OracleSql: String = {
    val values = a26Rois.map { case (id, x0, x1, y0, y1, z0, z1) =>
      s"($id, $x0, $x1, $y0, $y1, $z0, $z1)"
    }.mkString(",\n      ")
    s"""WITH r(id, x0, x1, y0, y1, z0, z1) AS (VALUES
       |      $values),
       | rr AS (SELECT *, (x1 - x0 + 1) * (y1 - y0 + 1) * (z1 - z0 + 1) AS nv FROM r),
       | m1 AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a26m1/*.parquet')),
       | m2 AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a26m2/*.parquet')),
       | s1 AS (SELECT rr.id AS roi_id, CAST(1 AS BIGINT) AS mip,
       |         CAST(count(*) AS BIGINT) AS n_vox, CAST(sum(v.value) AS BIGINT) AS vsum
       |        FROM rr JOIN m1 v ON v.x BETWEEN rr.x0 AND rr.x1
       |          AND v.y BETWEEN rr.y0 AND rr.y1 AND v.z BETWEEN rr.z0 AND rr.z1
       |        WHERE rr.nv <= $A26Budget GROUP BY rr.id),
       | s2 AS (SELECT rr.id AS roi_id, CAST(2 AS BIGINT) AS mip,
       |         CAST(count(*) AS BIGINT) AS n_vox, CAST(sum(v.value) AS BIGINT) AS vsum
       |        FROM rr JOIN m2 v ON v.x BETWEEN (rr.x0 - 1) // 2 + 1 AND (rr.x1 - 1) // 2 + 1
       |          AND v.y BETWEEN (rr.y0 - 1) // 2 + 1 AND (rr.y1 - 1) // 2 + 1
       |          AND v.z BETWEEN rr.z0 AND rr.z1
       |        WHERE rr.nv > $A26Budget GROUP BY rr.id)
       |SELECT * FROM s1 UNION ALL SELECT * FROM s2""".stripMargin
  }

  /** Oracle twin of [[a23_roi_gather]]: the same ROI constants as a VALUES
    * table, theta-joined to the dumped voxels (fine at oracle scale; the
    * engine side never runs this join — assignment is row-local). */
  def a23OracleSql: String = {
    val values = a23Rois.map { case (id, x0, x1, y0, y1, z0, z1) =>
      s"($id, $x0, $x1, $y0, $y1, $z0, $z1)"
    }.mkString(",\n      ")
    s"""WITH v AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a23/*.parquet')),
       | r(id, x0, x1, y0, y1, z0, z1) AS (VALUES
       |      $values)
       |SELECT r.id AS roi_id, CAST(count(*) AS BIGINT) AS n_vox,
       |       CAST(sum(v.value) AS BIGINT) AS vsum,
       |       CAST(min(v.value) AS BIGINT) AS vmin,
       |       CAST(max(v.value) AS BIGINT) AS vmax
       |FROM r JOIN v ON v.x BETWEEN r.x0 AND r.x1
       |              AND v.y BETWEEN r.y0 AND r.y1
       |              AND v.z BETWEEN r.z0 AND r.z1
       |GROUP BY r.id""".stripMargin
  }

  // ---------------- versioned-volume diff (a43) ----------------

  /** Versioned-volume DIFF manifest (a43) — the change audit a
    * proofreading/re-acquisition workflow runs between two versions of a
    * layer ("what did this edit round actually touch?"): chunk-level
    * detection compares the STORED OBJECTS (md5 over the chunk blobs via
    * the DSv2 chunk table — no voxel is decoded for unchanged chunks;
    * deterministic codec ⇒ byte-equal iff voxel-equal), and only the
    * changed chunks pay a voxel-grain join for the delta census
    * (n_diff, max |Δ|). The edit is a pure function (box
    * [17,32]²×[3,6] gains +50, saturating), so exactly the 2 chunks
    * intersecting it must flag and every other chunk must prove byte
    * identity.
    *
    * At 100 TB this shape is the whole point: version diff costs one LIST
    * + blob-hash pass at chunk grain (objects stream, nothing decodes)
    * plus voxel work proportional to the CHANGED region only — the a14
    * LIST-audit principle extended to cross-version comparison. */
  def a43_version_diff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = demoVolume(spark, "a43-v1")(demoFill(skewed))
    val v2 = demoVolume(spark, "a43-v2")(demoFill(skewedEdited))
    def chunks(vol: Volume, side: String) =
      spark.read.format("precomputed").load(vol.root)
        .select(col("cx"), col("cy"), col("cz"), md5(col("blob")).as(s"h_$side"))
    val manifest = chunks(v1, "a").join(chunks(v2, "b"), Seq("cx", "cy", "cz"))
      .withColumn("changed", col("h_a") =!= col("h_b"))
    def vox(vol: Volume, side: String) = vol.toVoxels(demoExtent)
      .select(col("x"), col("y"), col("z"),
        expr("(x - 1) DIV 32 + 1").as("cx"), expr("(y - 1) DIV 32 + 1").as("cy"),
        expr("(z - 1) DIV 4 + 1").as("cz"),
        col("value").cast(LongType).as(s"v_$side"))
    val changedKeys = manifest.filter(col("changed"))
      .select(col("cx"), col("cy"), col("cz"))
    val deltas = vox(v1, "a").join(broadcast(changedKeys), Seq("cx", "cy", "cz"))
      .join(vox(v2, "b"), Seq("cx", "cy", "cz", "x", "y", "z"))
      .filter(col("v_a") =!= col("v_b"))
      .groupBy(col("cx"), col("cy"), col("cz"))
      .agg(count(lit(1)).as("n_diff"),
        max(abs(col("v_b") - col("v_a"))).as("max_delta"))
    manifest.join(deltas, Seq("cx", "cy", "cz"), "left_outer")
      .select(col("cx").cast(LongType).as("cx"), col("cy").cast(LongType).as("cy"),
        col("cz").cast(LongType).as("cz"), col("changed"),
        coalesce(col("n_diff"), lit(0L)).as("n_diff"),
        coalesce(col("max_delta"), lit(0L)).as("max_delta"))
  }

  /** Oracle twin of [[a43_version_diff]]: both versions regenerated from
    * the closed form, per-chunk change census — a chunk is changed iff any
    * voxel differs, which must agree with the engine's blob-hash verdict. */
  def a43OracleSql: String =
    """WITH g AS (SELECT x.x, y.y, z.z FROM range(1, 65) x(x), range(1, 65) y(y), range(1, 9) z(z)),
      | v AS (SELECT x, y, z,
      |        ((x * 31 + y * 17 + z * 7) % 251) * ((x * 31 + y * 17 + z * 7) % 251) // 251 AS v1
      |       FROM g),
      | e AS (SELECT x, y, z, v1,
      |        CASE WHEN x BETWEEN 17 AND 32 AND y BETWEEN 17 AND 32 AND z BETWEEN 3 AND 6
      |             THEN least(255, v1 + 50) ELSE v1 END AS v2
      |       FROM v),
      | c AS (SELECT (x - 1) // 32 + 1 AS cx, (y - 1) // 32 + 1 AS cy, (z - 1) // 4 + 1 AS cz,
      |        v1, v2 FROM e)
      |SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy, CAST(cz AS BIGINT) AS cz,
      | (sum(CASE WHEN v1 != v2 THEN 1 ELSE 0 END) > 0) AS changed,
      | CAST(sum(CASE WHEN v1 != v2 THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
      | CAST(coalesce(max(CASE WHEN v1 != v2 THEN abs(v2 - v1) END), 0) AS BIGINT) AS max_delta
      |FROM c GROUP BY 1, 2, 3""".stripMargin

  // ---------------- precomputed skeleton morphometry (a42) ----------------

  /** Precomputed SKELETON morphometry (a42) — the skeleton side of the
    * neuroglancer "precomputed" layout, completing the voxel → mesh (a39)
    * → skeleton triad a connectomics stack serves: per-segment binary
    * skeleton objects ([[graft.core.Skeleton]]: uint32 vertex/edge counts,
    * float32 xyz, uint32 index pairs), and the tracing-QC morphometry —
    * vertex/edge counts, ENDPOINT and BRANCH-POINT counts from the degree
    * fold, exact cable length, bounding box — per segment. The fixture
    * writes 20 deterministic T-shaped skeletons (backbone of
    * `4 + L mod 7` segments, one branch of `2 + L mod 4` segments at node
    * `1 + L mod 3`, spacing `1 + L mod 3`, anchor (10L, L, L mod 5))
    * through the REAL encoder; stats only come out if every float, count,
    * and edge index decoded exactly — the a39 byte-framing discipline.
    *
    * Determinism: all coordinates are small integers in float32 (exact);
    * every edge is axis-aligned with integer spacing, so each length is
    * an exact integer (IEEE sqrt of a perfect square) and cable is an
    * exact BIGINT — no rounding anywhere in the gate.
    *
    * Scale shape: skeleton objects are a distributed binaryFile relation
    * (no driver listing — at 10⁸ segments the skeleton set is itself a
    * dataset); decode + degree fold + length fold run row-locally in one
    * typed pass, one map-side-combined reduce at segment grain. */
  def a42_skeleton_stats(spark: SparkSession, dir: String): DataFrame = {
    val skDir = new java.io.File(Scratch.dir("graft-a42"), "skeletons"); skDir.mkdirs()
    var lab = 1
    while (lab <= 20) {
      val s = 1 + lab % 3
      val nbk = 4 + lab % 7 // backbone segments (vertices 0..nbk)
      val nbr = 2 + lab % 4 // branch segments
      val j = 1 + lab % 3 // branch attachment node (interior: j < nbk)
      val (ax, ay, az) = (10f * lab, lab.toFloat, (lab % 5).toFloat)
      val verts = new Array[Float](3 * (nbk + 1 + nbr))
      var i = 0
      while (i <= nbk) {
        verts(3 * i) = ax + i * s; verts(3 * i + 1) = ay; verts(3 * i + 2) = az
        i += 1
      }
      var k = 1
      while (k <= nbr) {
        val vi = nbk + k
        verts(3 * vi) = ax + j * s; verts(3 * vi + 1) = ay + k * s; verts(3 * vi + 2) = az
        k += 1
      }
      val edges = new Array[Int](2 * (nbk + nbr))
      i = 0
      while (i < nbk) { edges(2 * i) = i; edges(2 * i + 1) = i + 1; i += 1 }
      edges(2 * nbk) = j; edges(2 * nbk + 1) = nbk + 1
      k = 1
      while (k < nbr) {
        edges(2 * (nbk + k)) = nbk + k; edges(2 * (nbk + k) + 1) = nbk + k + 1
        k += 1
      }
      java.nio.file.Files.write(skDir.toPath.resolve(lab.toString),
        Skeleton.encode(Skeleton.Skel(verts, edges)))
      lab += 1
    }
    implicit val statEnc =
      Encoders.product[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    spark.read.format("binaryFile").load(skDir.toString)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as(Encoders.product[(String, Array[Byte])])
      .map { case (name, bytes) =>
        val sk = Skeleton.decode(bytes)
        val deg = new Array[Int](sk.numVertices)
        var cable = 0L
        var e = 0
        while (e < sk.numEdges) {
          val (a, b) = (sk.edges(2 * e), sk.edges(2 * e + 1))
          deg(a) += 1; deg(b) += 1
          def d(i: Int, c: Int) = sk.vertices(3 * i + c).toDouble
          val len = math.sqrt(
            (d(a, 0) - d(b, 0)) * (d(a, 0) - d(b, 0)) +
              (d(a, 1) - d(b, 1)) * (d(a, 1) - d(b, 1)) +
              (d(a, 2) - d(b, 2)) * (d(a, 2) - d(b, 2)))
          cable += len.toLong
          e += 1
        }
        var (mnx, mny, mnz) = (Long.MaxValue, Long.MaxValue, Long.MaxValue)
        var (mxx, mxy) = (Long.MinValue, Long.MinValue)
        var i = 0
        while (i < sk.numVertices) {
          val x = sk.vertices(3 * i).toLong
          val y = sk.vertices(3 * i + 1).toLong
          val z = sk.vertices(3 * i + 2).toLong
          if (x < mnx) mnx = x; if (x > mxx) mxx = x
          if (y < mny) mny = y; if (y > mxy) mxy = y
          if (z < mnz) mnz = z
          i += 1
        }
        (name.toLong, sk.numVertices.toLong, sk.numEdges.toLong,
          deg.count(_ == 1).toLong, deg.count(_ >= 3).toLong, cable,
          mnx, mxx, mny, mxy, mnz)
      }
      .toDF("label", "n_vertices", "n_edges", "n_endpoints", "n_branches",
        "cable", "x0", "x1", "y0", "y1", "z0")
  }

  /** Oracle twin of [[a42_skeleton_stats]] — the closed-form construction
    * replayed per label: counts, degree census, exact cable, bbox. */
  def a42OracleSql: String =
    """WITH l AS (SELECT CAST(lab AS BIGINT) AS label, 1 + lab % 3 AS s,
      |            4 + lab % 7 AS nbk, 2 + lab % 4 AS nbr, 1 + lab % 3 AS j
      |           FROM range(1, 21) t(lab))
      |SELECT label,
      | CAST(nbk + 1 + nbr AS BIGINT) AS n_vertices,
      | CAST(nbk + nbr AS BIGINT) AS n_edges,
      | CAST(3 AS BIGINT) AS n_endpoints,
      | CAST(1 AS BIGINT) AS n_branches,
      | CAST((nbk + nbr) * s AS BIGINT) AS cable,
      | CAST(10 * label AS BIGINT) AS x0,
      | CAST(10 * label + nbk * s AS BIGINT) AS x1,
      | CAST(label AS BIGINT) AS y0,
      | CAST(label + nbr * s AS BIGINT) AS y1,
      | CAST(label % 5 AS BIGINT) AS z0
      |FROM l""".stripMargin

  // ---------------- histogram matching (a41) ----------------

  /** Histogram MATCHING across volumes (a41) — the cross-acquisition
    * intensity normalization step (serial-section EM and light microscopy
    * stacks are imaged in sessions with drifting illumination; downstream
    * models need one intensity distribution): map every source grey level
    * to the reference level at the same quantile, i.e.
    * `LUT(v) = min{ r : F_ref(r) ≥ F_src(v) }` — a24's equalization
    * generalized from the uniform target to an arbitrary measured one.
    * Exactness discipline: both CDFs stay EXACT integer cumulative counts
    * and the quantile comparison cross-multiplies (`cr·n_s ≥ cs·n_r`,
    * products ≤ 2³⁰ — no division, no doubles, nothing to round), the
    * a24 lesson applied to a two-distribution compare. The LUT then
    * drives a write-back through the full distributed store path and the
    * gate is the per-chunk census of the REOPENED result.
    *
    * Scale shape: two histogram folds (map-side combined, value-grain ≤
    * 256 rows each), one ≤ 256×256 broadcast non-equi LUT join
    * (level-grain, corpus-size-independent — the a21/c12 bounded-attach
    * class), one broadcast LUT apply over the voxel scan. Voxels shuffle
    * only in the store write, exactly as a24. */
  def a41_hist_match(spark: SparkSession, dir: String): DataFrame = {
    val src = demoVolume(spark, "a41-src")(demoFill(skewed))
    val refv = demoVolume(spark, "a41-ref")(demoFill(refRamp))
    longVoxels(src.toVoxels(demoExtent)).write.mode("overwrite").parquet(s"$voxelDumpRoot/a41_src")
    refv.toVoxels(demoExtent)
      .select(col("value").cast(LongType).as("value"))
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/a41_ref")
    val srcVox = Tables.parquet(spark, s"$voxelDumpRoot/a41_src")
    val wv = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sCum = srcVox.groupBy(col("value")).agg(count(lit(1)).as("cnt"))
      .withColumn("cs", sum(col("cnt")).over(wv))
      .crossJoin(broadcast(srcVox.agg(count(lit(1)).as("ns"))))
      .select(col("value"), col("cs"), col("ns"))
    val refVox = Tables.parquet(spark, s"$voxelDumpRoot/a41_ref")
    val rCum = refVox.groupBy(col("value").as("r")).agg(count(lit(1)).as("cnt"))
      .withColumn("cr", sum(col("cnt")).over(Window.orderBy(col("r"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(refVox.agg(count(lit(1)).as("nr"))))
      .select(col("r"), col("cr"), col("nr"))
    val lut = sCum.join(broadcast(rCum), col("cr") * col("ns") >= col("cs") * col("nr"))
      .groupBy(col("value")).agg(min(col("r")).as("m"))
    writeBack(src, "a41-dst", srcVox.join(broadcast(lut), Seq("value"))
        .select(col("x"), col("y"), col("z"), col("m").as("value")))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("vsum"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .orderBy(col("cx"), col("cy"), col("cz"))
  }

  /** Oracle twin of [[a41_hist_match]]: both exact CDFs from the dumps,
    * the same cross-multiplied quantile LUT, apply, and per-chunk census. */
  def a41OracleSql: String =
    s"""WITH sv AS (SELECT x, y, z, value FROM read_parquet('$voxelDumpRoot/a41_src/*.parquet')),
       | rv AS (SELECT value FROM read_parquet('$voxelDumpRoot/a41_ref/*.parquet')),
       | sc AS (SELECT value,
       |         sum(cnt) OVER (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
       |         (SELECT count(*) FROM sv) AS ns
       |        FROM (SELECT value, count(*) AS cnt FROM sv GROUP BY value) h),
       | rc AS (SELECT r,
       |         sum(cnt) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
       |         (SELECT count(*) FROM rv) AS nr
       |        FROM (SELECT value AS r, count(*) AS cnt FROM rv GROUP BY value) h),
       | lut AS (SELECT s.value, min(r.r) AS m
       |         FROM sc s JOIN rc r ON r.cr * s.ns >= s.cs * r.nr
       |         GROUP BY s.value),
       | ev AS (SELECT sv.x, sv.y, sv.z, l.m AS v FROM sv JOIN lut l USING (value))
       |SELECT CAST((x - 1) // 32 + 1 AS BIGINT) AS cx,
       |       CAST((y - 1) // 32 + 1 AS BIGINT) AS cy,
       |       CAST((z - 1) // 4 + 1 AS BIGINT) AS cz,
       |       CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS vsum,
       |       CAST(min(v) AS BIGINT) AS vmin, CAST(max(v) AS BIGINT) AS vmax
       |FROM ev GROUP BY 1, 2, 3""".stripMargin

  // ---------------- supervoxel agglomeration (a40) ----------------

  /** Contact-threshold agglomeration over a supervoxel segmentation (a40)
    * — the proofreading-pipeline operator that turns an oversegmentation
    * into objects (watershed supervoxels merged wherever the shared
    * surface is large enough; the contact-area analogue of
    * affinity-threshold agglomeration): the fixture is a 128-supervoxel
    * block segmentation (8×8×2 blocks of 8×8×4 voxels) with a ~26%
    * deterministic hole pattern so every face pair carries a DIFFERENT
    * contact area (x/y faces ≈ 14–20 voxels, z faces ≈ 33–34); edges with
    * `n_pairs ≥ 20` merge, yielding 20 objects of varied size from 128
    * supervoxels. Output: per merged object, its canonical label (min
    * supervoxel id over the component), member count, and voxel mass.
    *
    * Scale shape: contacts come from the a20 fold (chunk-local pairs +
    * O(surface) seam join — voxels never shuffle); the merge runs at
    * SUPERVOXEL grain (the [[Dedup.connectedComponents]] bounded-round
    * pointer jumping over the O(faces) edge relation), and the mass join
    * is label-grain. Voxel-grain work is one scan; everything after is
    * graph-of-labels sized — exactly how a petavoxel agglomeration stays
    * tractable. */
  def a40_agglomerate(spark: SparkSession, dir: String, tau: Long = 20L): DataFrame = {
    val vol = demoVolume(spark, "a40", "segmentation")(demoFill(supervoxels))
    vol.toVoxels(demoExtent).filter(col("value") =!= 0)
      .select(col("x"), col("y"), col("z"), col("value").cast(LongType).as("label"))
      .write.mode("overwrite").parquet(s"$voxelDumpRoot/a40")
    val contacts = Tables.materialize(contactStats(vol.localContacts(demoExtent)))
    // supervoxel sizes fold over the ALREADY-DUMPED labeled voxel
    // relation (r13 opt) — the dump above decoded every chunk once for
    // the oracle; re-deriving sizes from the store paid that whole
    // decode pass a second time. Same rows by construction (the dump is
    // written from the identical filter+projection).
    val sizes = Tables.parquet(spark, s"$voxelDumpRoot/a40")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vox"))
    val edges = contacts.filter(col("n_pairs") >= tau)
      .select(col("la").as("a"), col("lb").as("b"))
    val merged = Dedup.connectedComponents(edges)
      .select(col("doc_id").as("label"), col("cluster").as("comp"))
    sizes.join(merged, Seq("label"), "left_outer")
      .select(coalesce(col("comp"), col("label")).as("comp"),
        col("label"), col("n_vox"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_sv"), sum(col("n_vox")).as("n_voxels"))
  }

  /** Oracle twin of [[a40_agglomerate]]: the a20 positive-shift adjacency
    * fold over the dumped labeled voxels, the same contact threshold, a
    * recursive min-label closure at LABEL grain (tiny by construction),
    * and the same size join. */
  def a40OracleSql(tau: Long = 20L): String =
    s"""WITH RECURSIVE fg AS (
       |  SELECT x, y, z, label FROM read_parquet('$voxelDumpRoot/a40/*.parquet')
       |), d AS (SELECT * FROM (VALUES (1,0,0),(0,1,0),(0,0,1)) t(dx, dy, dz)),
       | pr AS (SELECT least(f.label, n.label) AS la, greatest(f.label, n.label) AS lb
       |        FROM fg f CROSS JOIN d s
       |        JOIN fg n ON n.x = f.x + s.dx AND n.y = f.y + s.dy AND n.z = f.z + s.dz
       |        WHERE f.label <> n.label),
       | ct AS (SELECT la, lb, count(*) AS n_pairs FROM pr GROUP BY la, lb),
       | e AS (SELECT la AS u, lb AS v FROM ct WHERE n_pairs >= $tau),
       | sym AS (SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e),
       | verts AS (SELECT DISTINCT label FROM fg),
       | reach(v, l) AS (
       |  SELECT label, label FROM verts
       |  UNION
       |  SELECT s.v, r.l FROM reach r JOIN sym s ON s.u = r.v
       | ),
       | lbl AS (SELECT v AS label, min(l) AS comp FROM reach GROUP BY v),
       | sz AS (SELECT label, count(*) AS n_vox FROM fg GROUP BY label)
       |SELECT CAST(l.comp AS BIGINT) AS comp, CAST(count(*) AS BIGINT) AS n_sv,
       | CAST(sum(s.n_vox) AS BIGINT) AS n_voxels
       |FROM sz s JOIN lbl l USING (label)
       |GROUP BY l.comp""".stripMargin

  // ---------------- precomputed annotation spatial index (a44) ----------------

  /** Precomputed ANNOTATION layer roundtrip + per-cell census (a44) — the
    * point-annotation surface of the reference ecosystem (synapse marks,
    * somata, proofreading points live in `neuroglancer_annotations_v1`
    * layers NEXT to the voxel layers this engine serves; a pipeline that
    * cannot read/write them cannot exchange targets with viewers or
    * proofreading tools): a deterministic point set partitions into
    * spatial-index grid cells, each cell encodes through the REAL
    * multiple-annotation framing ([[graft.core.Annotations]] — u64 count,
    * float32 xyz triplets, u64 ids), lands as one object per cell under
    * the standard `X_Y_Z`-style key, and the gate is the census of the
    * REOPENED cells: count, id mass, and integer bbox per cell.
    *
    * Point closed form (replayed by the oracle): id i ∈ [1, 120],
    * `x = (37i) mod 96`, `y = (53i) mod 64`, `z = (29i) mod 48`; cells
    * are 32×32×16, so the index spans 3×2×3 cells. Integer coordinates
    * are exact in float32, so the decode→census is bit-deterministic.
    *
    * Scale shape: cells are a distributed binaryFile relation (no driver
    * listing — a synapse layer at connectome scale holds 10⁹ points over
    * 10⁶ cells); encode groups points by cell key (ONE shuffle at point
    * grain, the fromVoxels discipline), decode + census run row-locally
    * per cell. The driver touches only the 18-cell fixture here; nothing
    * in the path reads more than one cell at a time. */
  def a44_annotations(spark: SparkSession, dir: String): DataFrame = {
    val cellDir = new java.io.File(Scratch.dir("graft-a44"), "spatial0"); cellDir.mkdirs()
    val pts = (1 to 120).map { i =>
      ((37 * i) % 96, (53 * i) % 64, (29 * i) % 48, i.toLong)
    }
    pts.groupBy { case (x, y, z, _) => (x / 32, y / 32, z / 16) }
      .foreach { case ((cx, cy, cz), cell) =>
        val sorted = cell.sortBy(_._4)
        val pos = new Array[Float](3 * sorted.length)
        sorted.zipWithIndex.foreach { case ((x, y, z, _), k) =>
          pos(3 * k) = x.toFloat; pos(3 * k + 1) = y.toFloat; pos(3 * k + 2) = z.toFloat
        }
        java.nio.file.Files.write(cellDir.toPath.resolve(s"${cx}_${cy}_$cz"),
          Annotations.encode(Annotations.Points(pos, sorted.map(_._4).toArray)))
      }
    implicit val outEnc =
      Encoders.product[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
    spark.read.format("binaryFile").load(cellDir.toString)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("content"))
      .as(Encoders.product[(String, Array[Byte])])
      .map { case (name, bytes) =>
        val p = Annotations.decode(bytes)
        val Array(cx, cy, cz) = name.split("_").map(_.toLong)
        var idSum = 0L
        var (mnx, mny, mnz) = (Long.MaxValue, Long.MaxValue, Long.MaxValue)
        var (mxx, mxy, mxz) = (Long.MinValue, Long.MinValue, Long.MinValue)
        var i = 0
        while (i < p.count) {
          idSum += p.ids(i)
          val x = p.positions(3 * i).toLong
          val y = p.positions(3 * i + 1).toLong
          val z = p.positions(3 * i + 2).toLong
          if (x < mnx) mnx = x; if (x > mxx) mxx = x
          if (y < mny) mny = y; if (y > mxy) mxy = y
          if (z < mnz) mnz = z; if (z > mxz) mxz = z
          i += 1
        }
        (cx, cy, cz, p.count.toLong, idSum, mnx, mxx, mny, mxy, mnz, mxz)
      }
      .toDF("cx", "cy", "cz", "n", "id_sum", "x0", "x1", "y0", "y1", "z0", "z1")
  }

  /** Oracle twin of [[a44_annotations]] — the closed-form point set
    * bucketed into the same 32×32×16 cells, census per cell. */
  def a44OracleSql: String =
    """WITH p AS (SELECT CAST(i AS BIGINT) AS id,
      |            (37 * i) % 96 AS x, (53 * i) % 64 AS y, (29 * i) % 48 AS z
      |           FROM range(1, 121) t(i))
      |SELECT CAST(x // 32 AS BIGINT) AS cx, CAST(y // 32 AS BIGINT) AS cy,
      | CAST(z // 16 AS BIGINT) AS cz,
      | CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS id_sum,
      | CAST(min(x) AS BIGINT) AS x0, CAST(max(x) AS BIGINT) AS x1,
      | CAST(min(y) AS BIGINT) AS y0, CAST(max(y) AS BIGINT) AS y1,
      | CAST(min(z) AS BIGINT) AS z0, CAST(max(z) AS BIGINT) AS z1
      |FROM p GROUP BY 1, 2, 3""".stripMargin

  /** Once-per-JVM registry of the a45 SQL-DDL pipeline's destination store
    * per input dir (the gate re-runs queries; the DDL runs once). */
  private[graft] val ddlRootReg =
    graft.core.AtRestRegistry[String]("array.a45_ddl", arity = 1)

  /** Once-per-JVM registry of the a46 fixture per input dir:
    * (volume root, fixity-manifest parquet path). */
  private[graft] val fixityReg =
    graft.core.AtRestRegistry[(String, String)]("array.a46_fixity", arity = 1,
      kind = graft.core.AtRestRegistry.Fixture)

  /** FIXITY / bit-rot audit (a46) — the archival-integrity pass every
    * long-lived chunk store runs (object stores corrupt rarely but not
    * never, and a connectomics layer lives for years): at ingest the
    * pipeline records a fixity MANIFEST (chunk key → content digest — the
    * a33 digest machinery, persisted as the at-rest artifact); the audit
    * re-reads the store, recomputes digests, and reports per chunk whether
    * the bytes still match. Drift is PROVEN by injection: after the
    * manifest is written, every chunk with `(cx + cy + cz) % 3 == 0` gets
    * one byte flipped in its stored object — a pure function of the chunk
    * grid the oracle replays closed-form, so the audit must flag exactly
    * the corrupted chunks and clear the rest from REAL byte comparison.
    *
    * Scale shape: the audit is one chunk-table scan (digests computed
    * row-locally on the blob column) joined to the manifest on key — at
    * 100 TB both sides are chunk-grain, the join is key-equi, and the scan
    * streams every object exactly once (the same I/O a restore would pay;
    * production runs it partition-by-partition on a cadence). */
  def a46_fixity_audit(spark: SparkSession, dir: String): DataFrame = {
    val (root, man) = fixityReg.getOrBuild(dir) {
      val r = demoVolume(spark, "a46")(demoSequenced()).root
      val m = s"$voxelDumpRoot/a46_manifest_${graft.ops.Similarity.dirToken(dir)}"
      spark.read.format("precomputed").load(r)
        .select(col("key"), md5(col("blob")).as("h"))
        .write.mode("overwrite").parquet(m)
      // bit-rot injection AFTER the manifest: flip one byte in every
      // (cx+cy+cz)%3==0 chunk's stored object (fixture corruption — 8
      // objects, driver-side on purpose; the AUDIT below is the
      // distributed operator under test)
      val fs = ChunkStore.fs(r, spark.sessionState.newHadoopConf())
      spark.read.format("precomputed").load(r)
        .select(col("cx"), col("cy"), col("cz"), col("key")).collect()
        .foreach { row =>
          if ((row.getInt(0) + row.getInt(1) + row.getInt(2)) % 3 == 0) {
            val key = s"1_1_1/${row.getString(3)}"
            val bytes = ChunkStore.read(fs, r, key)
            bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x5A).toByte
            ChunkStore.write(fs, r, key, bytes)
          }
        }
      (r, m)
    }
    spark.read.format("precomputed").load(root)
      .select(col("cx"), col("cy"), col("cz"), col("key"), md5(col("blob")).as("now"))
      .join(Tables.parquet(spark, man), Seq("key"))
      .select(col("cx"), col("cy"), col("cz"), col("key"),
        (col("now") =!= col("h")).as("drifted"))
  }

  /** Once-per-JVM registry of the a47 fixture per input dir (dump paths
    * are derived; the value records completion). */
  private[graft] val mipRepairReg =
    graft.core.AtRestRegistry[Boolean]("array.a47_mip_repair", arity = 1)

  /** Where the most recent [[a47_mip_repair]] left its dumps — per-dir
    * (the q33/q36 dirToken convention; the oracle def reads these at dump
    * time in the same JVM). */
  @volatile private[graft] var A47M0Dump: String = ""
  @volatile private[graft] var A47M1Dump: String = ""

  /** Mip-pyramid REPAIR (a47) — closing the loop a19 opens: a19 AUDITS a
    * pyramid against its base level (mean-pool re-derivation); this
    * operator repairs what the audit flags, at O(drift) cost — only the
    * DRIFTED mip-1 chunks are recomputed from mip-0 ([[VolumeOps
    * .buildNextMip]] restricted to each flagged chunk's base region) and
    * written back; pristine chunks are never touched, and the gate proves
    * BOTH halves: the post-repair pyramid must re-derive clean everywhere
    * (n_match_after == n_voxels on every chunk) AND the drifted set must
    * be exactly the injected one (two mip-1 chunks zeroed-to-7 after the
    * pyramid build — a pure function of the chunk grid).
    *
    * Scale shape: the audit is the a19 join (voxel-grain, chunk-pruned);
    * the repair loop is driver-side over the FLAGGED chunk list — the
    * audit's entire point is that this list is tiny (each repair is
    * itself a distributed buildNextMip over one chunk's base region), the
    * d20 incremental posture applied to pyramids. */
  def a47_mip_repair(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.ops.Similarity.dirToken(dir)
    val m0Dump = s"$voxelDumpRoot/a47m0_$tok"
    val m1Dump = s"$voxelDumpRoot/a47m1_$tok"
    A47M0Dump = m0Dump
    A47M1Dump = m1Dump
    mipRepairReg.getOrBuild(dir) {
      val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1,
        Vector(demoScale.copy(size = (64, 64, 16)))).withNumMips(2)
      val vol = Volume.create(spark, Scratch.dir("graft-a47"), meta)
      vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 16, 1, (1, 1, 1)))
      VolumeOps.buildNextMip(vol, Box(1, 64, 1, 64, 1, 16))
      val vol1 = new Volume(spark, vol.root, vol.meta, 2)
      // inject drift into mip-1 chunks cz=2 and cz=4 (z 5..8 and 13..16)
      Seq(5, 13).foreach(tamperMip1(vol1, _))
      // AUDIT: re-derive mip-1 from mip-0 (xy mean-pool) and flag chunks
      // with any mismatching voxel — the a19 comparison at chunk grain
      longVoxels(vol.toVoxels(Box(1, 64, 1, 64, 1, 16))).write.mode("overwrite").parquet(m0Dump)
      val want = meanPooled(spark, m0Dump)
      val drifted = longVoxels(vol1.toVoxels(Box(1, 32, 1, 32, 1, 16)))
        .join(want, Seq("x", "y", "z"))
        .filter(col("value") =!= col("want"))
        .select(((col("z") - 1).cast(LongType) / 4 + 1).cast(IntegerType).as("cz"))
        .distinct().collect().map(_.getInt(0)).sorted
      // the audit must localize EXACTLY the injected chunks — anything
      // else is a broken audit, and the oracle (which folds the same
      // dumps) could not see it, so this check is loud in-engine
      require(drifted.sameElements(Array(2, 4)),
        s"a47: audit found drift set ${drifted.toSeq}, expected [2, 4]")
      // REPAIR: recompute ONLY the flagged chunks from the base level
      drifted.foreach { cz =>
        VolumeOps.buildNextMip(vol, Box(1, 64, 1, 64, (cz - 1) * 4 + 1, cz * 4))
      }
      longVoxels(new Volume(spark, vol.root, vol.meta, 2).toVoxels(Box(1, 32, 1, 32, 1, 16)))
        .write.mode("overwrite").parquet(m1Dump)
      // post-repair re-derivation must be clean EVERYWHERE (same dump the
      // gate folds — but equality of engine and oracle folds alone would
      // not prove the repair landed, so the property is asserted here)
      val dirtyAfter = Tables.parquet(spark, m1Dump)
        .join(want, Seq("x", "y", "z"))
        .filter(col("value") =!= col("want")).count()
      require(dirtyAfter == 0, s"a47: $dirtyAfter voxels still drifted after repair")
      true
    }
    // the gated report: per mip-1 chunk, the injected-drift verdict and
    // the post-repair agreement census (must be total everywhere)
    Tables.parquet(spark, m1Dump)
      .join(meanPooled(spark, m0Dump), Seq("x", "y", "z"))
      .groupBy(
        (floor((col("x") - 1) / 32) + 1).cast(IntegerType).as("cx"),
        (floor((col("y") - 1) / 32) + 1).cast(IntegerType).as("cy"),
        (floor((col("z") - 1) / 4) + 1).cast(IntegerType).as("cz"))
      .agg(count(lit(1)).as("n_voxels"),
        sum(when(col("value") === col("want"), 1L).otherwise(0L)).as("n_match_after"))
      .select(col("cx"), col("cy"), col("cz"),
        (pmod(col("cz"), lit(2)) === 0).as("was_drifted"),
        col("n_voxels"), col("n_match_after"))
  }

  /** Dump-replay oracle of [[a47_mip_repair]]: the same mean-pool
    * re-derivation and chunk census over the post-repair dump, with the
    * injection rule replayed closed-form. */
  def a47OracleSql: String =
    s"""WITH want AS (SELECT CAST(floor((x-1)/2)+1 AS INT) AS x,
       |        CAST(floor((y-1)/2)+1 AS INT) AS y, z,
       |        CAST(round(avg(value)) AS BIGINT) AS want
       |       FROM read_parquet('$A47M0Dump/*.parquet') GROUP BY 1, 2, z),
       | j AS (SELECT m.x, m.y, m.z, m.value, w.want
       |       FROM read_parquet('$A47M1Dump/*.parquet') m
       |       JOIN want w USING (x, y, z))
       |SELECT CAST(floor((x-1)/32)+1 AS INT) AS cx,
       | CAST(floor((y-1)/32)+1 AS INT) AS cy,
       | CAST(floor((z-1)/4)+1 AS INT) AS cz,
       | (CAST(floor((z-1)/4)+1 AS INT) % 2 = 0) AS was_drifted,
       | CAST(count(*) AS BIGINT) AS n_voxels,
       | CAST(sum(CASE WHEN value = want THEN 1 ELSE 0 END) AS BIGINT) AS n_match_after
       |FROM j GROUP BY 1, 2, 3, 4""".stripMargin


  /** Closed-form oracle of [[a46_fixity_audit]]: the 2×2×2 grid of 32×32×4
    * chunks with the injection rule replayed — the engine's digests must
    * flag exactly these. */
  def a46OracleSql: String =
    """SELECT CAST(cx AS INT) AS cx, CAST(cy AS INT) AS cy, CAST(cz AS INT) AS cz,
      | ((cx-1)*32) || '-' || (cx*32) || '_' || ((cy-1)*32) || '-' || (cy*32) ||
      |   '_' || ((cz-1)*4) || '-' || (cz*4) AS key,
      | (cx + cy + cz) % 3 = 0 AS drifted
      |FROM (SELECT unnest(generate_series(1,2)) AS cx),
      |     (SELECT unnest(generate_series(1,2)) AS cy),
      |     (SELECT unnest(generate_series(1,2)) AS cz)""".stripMargin

  /** SQL DDL pipeline under the gate (a45, r10 stretch directive): a new
    * dataset is CREATEd, ingested, and read back ENTIRELY through SQL —
    * `CREATE TABLE ... USING precomputed OPTIONS (...)` (the reference's
    * create-new-dataset path, src/type.jl:85-99, as DDL via
    * [[graft.sources.PrecomputedCatalog]]), `INSERT INTO ... SELECT` at
    * chunk grain from an attached source layer, and a metadata `SELECT`
    * over the result. The returned chunk table has the a5 closed-form
    * oracle (same 2×2×2 grid of 32×32×4 chunks); the voxel payload's
    * bit-exactness is asserted in-engine via the independent cutout path
    * (MurmurHash3 content is not oracle-replayable) and pinned again by
    * SqlDdlSpec. */
  def a45_sql_ddl(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(spark)
    val root = ddlRootReg.getOrBuild(dir) {
      val tok = graft.ops.Similarity.dirToken(dir)
      val buf = demoSequenced()
      val srcRoot = demoVolume(spark, "a45-src")(buf).root
      val dst = Scratch.dir("graft-a45-dst") + "/layer"
      spark.sql(s"CREATE TABLE graft.a45_src_$tok USING precomputed OPTIONS (path '$srcRoot')")
      spark.sql(s"""CREATE TABLE graft.a45_dst_$tok USING precomputed OPTIONS (
        path '$dst', voxel_type 'uint8', size '64,64,8', chunk_size '32,32,4',
        resolution '1,1,1', encoding 'gzip')""")
      spark.sql(s"INSERT INTO graft.a45_dst_$tok SELECT * FROM graft.a45_src_$tok")
      require(Volume.open(spark, dst).cutout(demoExtent) == buf,
        "a45: SQL-ingested volume must decode bit-exactly")
      dst
    }
    // re-attach is a no-op when the table is already registered in this
    // session; direct `precomputed.`path`` queries are file-source-only in
    // Spark SQL, so the read goes through the catalog identifier too
    val tok = graft.ops.Similarity.dirToken(dir)
    spark.sql(s"CREATE TABLE IF NOT EXISTS graft.a45_dst_$tok USING precomputed OPTIONS (path '$root')")
    spark.sql(s"""SELECT mip, cx, cy, cz, x0, x1, y0, y1, z0, z1, key
      FROM graft.a45_dst_$tok""")
  }
}
