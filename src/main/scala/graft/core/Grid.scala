package graft.core

/** Chunk-grid coordinate math for the "precomputed" chunked N-d array layout.
  *
  * Semantics mirror the reference implementation's index algebra
  * (reference: src/Indexes.jl:41-53, src/ChunkIterators.jl:9-83) re-expressed
  * as pure functions: 1-based inclusive global coordinates (Julia-style),
  * 0-based-start exclusive-stop storage keys, chunk grid aligned to
  * `offset mod chunkSize`, and volume-boundary clamping
  * (reference: src/type.jl:165-205).
  *
  * Everything here is driver/executor-safe pure Scala — the Spark side turns
  * these into pruning predicates and computed columns.
  */
object Grid {

  /** Closed integer interval `[lo, hi]`, 1-based global voxel coordinates. */
  final case class Ival(lo: Int, hi: Int) {
    def len: Int = hi - lo + 1
    def isEmpty: Boolean = hi < lo
    def intersect(o: Ival): Ival = Ival(math.max(lo, o.lo), math.min(hi, o.hi))
    def shift(d: Int): Ival = Ival(lo + d, hi + d)
    /** Bounding union (reference: src/Indexes.jl:111-118). */
    def union(o: Ival): Ival = Ival(math.min(lo, o.lo), math.max(hi, o.hi))
    def contains(x: Int): Boolean = x >= lo && x <= hi
  }

  /** Axis-aligned 3-d box of closed intervals. */
  final case class Box(x: Ival, y: Ival, z: Ival) {
    def dims: Seq[Ival] = Seq(x, y, z)
    def numVoxels: Long = x.len.toLong * y.len.toLong * z.len.toLong
    def intersect(o: Box): Box = Box(x.intersect(o.x), y.intersect(o.y), z.intersect(o.z))
    def union(o: Box): Box = Box(x.union(o.x), y.union(o.y), z.union(o.z))
    def isEmpty: Boolean = x.isEmpty || y.isEmpty || z.isEmpty
    def shape: (Int, Int, Int) = (x.len, y.len, z.len)
  }

  object Box {
    def apply(x0: Int, x1: Int, y0: Int, y1: Int, z0: Int, z1: Int): Box =
      Box(Ival(x0, x1), Ival(y0, y1), Ival(z0, z1))
  }

  /** Chunk-grid cell id along one axis; 1-based like the reference
    * (reference: src/Indexes.jl:41-45 `fld(x-1-o, csz)+1`). */
  def chunkIdOf(x: Int, chunkSize: Int, offset: Int): Int =
    Math.floorDiv(x - 1 - offset, chunkSize) + 1

  /** Global interval covered by chunk `id` along one axis
    * (reference: src/Indexes.jl:47-53). */
  def chunkIval(id: Int, chunkSize: Int, offset: Int): Ival =
    Ival((id - 1) * chunkSize + 1 + offset, id * chunkSize + offset)

  /** The grid alignment offset: the chunk grid aligns to
    * `mod(offset, chunkSize)` — not to 0 and not to the raw voxel offset
    * (reference: src/ChunkIterators.jl:30-34). Uses floorMod so negative
    * offsets behave like Julia `mod`. */
  def gridOffset(offset: Int, chunkSize: Int): Int =
    Math.floorMod(offset, chunkSize)

  /** Chunk-id bounding ranges of a query box — THE shared pruning math; all
    * planners (driver enumeration, distributed task grids, physical scans)
    * derive their id spans from here so they can never disagree. */
  final case class IdRanges(lox: Int, hix: Int, loy: Int, hiy: Int, loz: Int, hiz: Int) {
    def nx: Long = hix - lox + 1L
    def ny: Long = hiy - loy + 1L
    def nz: Long = hiz - loz + 1L
    def total: Long = nx * ny * nz
    /** Decompose a linear id in [0, total) into grid coords (x fastest). */
    def coords(id: Long): (Int, Int, Int) =
      ((lox + id % nx).toInt, (loy + (id / nx) % ny).toInt, (loz + id / (nx * ny)).toInt)
    /** The linear id of grid coords: the inverse of [[coords]]. */
    def id(cx: Int, cy: Int, cz: Int): Long = (cx - lox) + nx * ((cy - loy) + ny * (cz - loz))
  }

  def idRanges(query: Box, chunkSize: (Int, Int, Int), offset: (Int, Int, Int)): IdRanges = {
    val (csx, csy, csz) = chunkSize
    val ox = gridOffset(offset._1, csx); val oy = gridOffset(offset._2, csy); val oz = gridOffset(offset._3, csz)
    IdRanges(
      chunkIdOf(query.x.lo, csx, ox), chunkIdOf(query.x.hi, csx, ox),
      chunkIdOf(query.y.lo, csy, oy), chunkIdOf(query.y.hi, csy, oy),
      chunkIdOf(query.z.lo, csz, oz), chunkIdOf(query.z.hi, csz, oz))
  }

  /** Stop-side volume clamp (adjust_volume_boundary semantics,
    * reference: src/type.jl:165-205): only the hi bound shrinks. */
  def clampHiTo(b: Box, vol: Box): Box = Box(
    Ival(b.x.lo, math.min(b.x.hi, vol.x.hi)),
    Ival(b.y.lo, math.min(b.y.hi, vol.y.hi)),
    Ival(b.z.lo, math.min(b.z.hi, vol.z.hi)))

  /** One unit of cutout/ingest work: a chunk intersecting the query box.
    *
    * Field meanings match the reference's 5-tuple
    * (reference: src/ChunkIterators.jl:56-83):
    *  - `id*`: chunk grid coordinates
    *  - `chunkBox`: the chunk's full global box (possibly volume-clamped)
    *  - `cutoutBox`: chunkBox ∩ queryBox (global coords, volume-clamped)
    *  - ranges *within* the chunk / the user buffer are derived:
    *    `rangeInChunk = cutoutBox - chunkBox.lo + 1`,
    *    `rangeInBuffer = cutoutBox - queryBox.lo + 1`.
    */
  final case class ChunkSlice(idx: Int, idy: Int, idz: Int, chunkBox: Box, cutoutBox: Box) {
    def rangeInChunk: Box = Box(
      cutoutBox.x.shift(1 - chunkBox.x.lo),
      cutoutBox.y.shift(1 - chunkBox.y.lo),
      cutoutBox.z.shift(1 - chunkBox.z.lo))
    def rangeInBuffer(queryBox: Box): Box = Box(
      cutoutBox.x.shift(1 - queryBox.x.lo),
      cutoutBox.y.shift(1 - queryBox.y.lo),
      cutoutBox.z.shift(1 - queryBox.z.lo))
    /** Storage key for this chunk (from the clamped chunk box). */
    def key: String = Grid.boxKey(chunkBox)
  }

  /** Enumerate exactly the chunks whose grid cell intersects `query`
    * (reference: src/ChunkIterators.jl — the reference's whole "planner").
    *
    * `chunkSize` is the per-axis chunk shape; `offset` the mip level's raw
    * voxel offset (used only via `gridOffset` for alignment);
    * `volume` optionally bounds the physical extent: chunks fully outside are
    * dropped (reference: src/modes/sequential.jl:33-37) and boxes crossing the
    * boundary are stop-clamped (reference: src/type.jl:165-205).
    */
  def chunksFor(query: Box, chunkSize: (Int, Int, Int), offset: (Int, Int, Int),
                volume: Option[Box] = None): IndexedSeq[ChunkSlice] = {
    val (csx, csy, csz) = chunkSize
    val (ox, oy, oz) = (gridOffset(offset._1, csx), gridOffset(offset._2, csy), gridOffset(offset._3, csz))
    val ids = idRanges(query, chunkSize, offset)
    for {
      // column-major enumeration order (x fastest) like CartesianIndices
      iz <- ids.loz to ids.hiz
      iy <- ids.loy to ids.hiy
      ix <- ids.lox to ids.hix
      chunkBox = Box(chunkIval(ix, csx, ox), chunkIval(iy, csy, oy), chunkIval(iz, csz, oz))
      cutout = chunkBox.intersect(query)
      // out-of-volume skip (reads keep zeros): reference src/modes/sequential.jl:33-37
      if volume.forall(v => !cutout.intersect(v).isEmpty)
    } yield volume match {
      case None => ChunkSlice(ix, iy, iz, chunkBox, cutout)
      case Some(v) => ChunkSlice(ix, iy, iz, clampHiTo(chunkBox, v), clampHiTo(cutout, v))
    }
  }

  // ------------------------------------------------------------------
  // Storage key codec.
  // Format: "<x0>-<x1>_<y0>-<y1>_<z0>-<z1>", 0-based start, exclusive stop
  // (i.e. `first-1` / `last` of the 1-based inclusive box); negatives allowed;
  // an optional trailing ".gz" is accepted on parse.
  // (reference: src/Indexes.jl:80-106; golden vectors in test/Indexes.jl:5-10)
  // ------------------------------------------------------------------

  def ivalKey(i: Ival): String = s"${i.lo - 1}-${i.hi}"

  def boxKey(b: Box): String = s"${ivalKey(b.x)}_${ivalKey(b.y)}_${ivalKey(b.z)}"

  private val KeyRe = """(-?\d+)-(-?\d+)_(-?\d+)-(-?\d+)_(-?\d+)-(-?\d+)(?:\.gz)?$""".r.unanchored

  /** Parse a storage key (possibly with a path prefix / ".gz" suffix) back to
    * its 1-based inclusive box (reference: src/Indexes.jl:96-106). */
  def parseKey(s: String): Option[Box] = s match {
    case KeyRe(x0, x1, y0, y1, z0, z1) =>
      Some(Box(x0.toInt + 1, x1.toInt, y0.toInt + 1, y1.toInt, z0.toInt + 1, z1.toInt))
    case _ => None
  }

  // ------------------------------------------------------------------
  // Flat buffer layout: column-major (Fortran) order, x fastest, then y, z,
  // then channel — matching the reference's Julia array memory layout
  // (reference: src/Codings.jl:40 `reinterpret(UInt8, vec(data))`,
  //  src/modes/sequential.jl:47-48 `reshape(reinterpret(T, v), chunkSize)`).
  // ------------------------------------------------------------------

  /** Linear index (0-based) of 0-based local coords in a column-major
    * `(sx, sy, sz, nc)` buffer. */
  @inline def flatIndex(x: Int, y: Int, z: Int, c: Int, sx: Int, sy: Int, sz: Int): Int =
    x + sx * (y + sy * (z + sz * c))
}
