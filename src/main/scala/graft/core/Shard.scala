package graft.core

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.fs.FileSystem

import graft.volume.ChunkStore

/** Zarr v3 `sharding_indexed` container mechanics (the public zarr v3
  * sharding codec spec): one stored object holds a fixed grid of inner
  * chunks — each encoded by the inner codec chain — plus an index of
  * `(offset, nbytes)` uint64-LE pairs, one per inner cell in C-order,
  * optionally guarded by a CRC32C and located at the shard's start or end.
  * A missing inner chunk is `(2^64-1, 2^64-1)`.
  *
  * Sharding is the 100 TB feature of the format: a petavoxel store at
  * 64³-voxel chunks is billions of objects — LIST, per-PUT overhead, and
  * per-object metadata all melt down at that count. Shards keep the I/O
  * unit large (one object per shard) while the ADDRESSABLE unit stays the
  * inner chunk: a read costs one bounded index fetch plus one ranged GET
  * per inner chunk ([[ChunkStore.readRange]]) — never a whole-shard
  * download. */
object Shard {

  /** Inner-chunk grid of one shard (cells per axis) + index framing. */
  final case class Params(gx: Int, gy: Int, gz: Int, crc32c: Boolean, indexAtEnd: Boolean) {
    require(gx > 0 && gy > 0 && gz > 0, s"bad shard grid ($gx,$gy,$gz)")
    def numInner: Int = gx * gy * gz
    def indexBytes: Int = numInner * 16 + (if (crc32c) 4 else 0)
    /** C-order linear cell index: dims (d0,d1,d2) = (z,y,x), last fastest. */
    def linear(wx: Int, wy: Int, wz: Int): Int = (wz * gy + wy) * gx + wx
  }

  /** Index entry value marking an absent inner chunk (unsigned 2^64-1). */
  val Missing: Long = -1L

  /** Decode an index blob to `2·numInner` longs `[off0, len0, off1, …]`,
    * verifying the CRC32C when the params carry one. */
  def parseIndex(p: Params, blob: Array[Byte]): Array[Long] = {
    require(blob.length == p.indexBytes,
      s"shard index: expected ${p.indexBytes} bytes, got ${blob.length}")
    if (p.crc32c) {
      val crc = new java.util.zip.CRC32C
      crc.update(blob, 0, p.numInner * 16)
      val stored = ByteBuffer.wrap(blob, p.numInner * 16, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(stored == crc.getValue.toInt,
        f"shard index CRC32C mismatch: stored 0x$stored%08x vs computed 0x${crc.getValue.toInt}%08x")
    }
    val bb = ByteBuffer.wrap(blob, 0, p.numInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(p.numInner * 2)(bb.getLong)
  }

  /** Encode an index (with CRC32C when configured). */
  def buildIndex(p: Params, entries: Array[Long]): Array[Byte] = {
    require(entries.length == p.numInner * 2, "index entry count mismatch")
    val bb = ByteBuffer.allocate(p.indexBytes).order(ByteOrder.LITTLE_ENDIAN)
    entries.foreach(bb.putLong)
    if (p.crc32c) {
      val crc = new java.util.zip.CRC32C
      crc.update(bb.array(), 0, p.numInner * 16)
      bb.putInt(crc.getValue.toInt)
    }
    bb.array()
  }

  /** Assemble a whole shard object from present inner blobs (by linear
    * cell index), data section in ascending cell order, index at the
    * configured location. */
  def build(p: Params, inner: Map[Int, Array[Byte]]): Array[Byte] = {
    val entries = new Array[Long](p.numInner * 2)
    java.util.Arrays.fill(entries, Missing)
    val dataLen = inner.valuesIterator.map(_.length.toLong).sum
    require(dataLen <= Int.MaxValue - p.indexBytes, "shard too large for one buffer")
    val out = ByteBuffer.allocate(p.indexBytes + dataLen.toInt)
    val dataStart = if (p.indexAtEnd) 0 else p.indexBytes
    out.position(dataStart)
    inner.toSeq.sortBy(_._1).foreach { case (cell, blob) =>
      entries(cell * 2) = out.position().toLong
      entries(cell * 2 + 1) = blob.length.toLong
      out.put(blob)
    }
    val idx = buildIndex(p, entries)
    if (p.indexAtEnd) out.put(idx) else { out.position(0); out.put(idx) }
    out.array()
  }

  /** Fetch a shard's index via ranged read: None when the shard object is
    * absent (every inner chunk missing). */
  def readIndex(fs: FileSystem, root: String, key: String, p: Params): Option[Array[Long]] =
    ChunkStore.lengthOf(fs, root, key).map { len =>
      require(len >= p.indexBytes, s"shard $key shorter (${len} B) than its index (${p.indexBytes} B)")
      val off = if (p.indexAtEnd) len - p.indexBytes else 0L
      parseIndex(p, ChunkStore.readRange(fs, root, key, off, p.indexBytes))
    }

  /** TASK-scoped index cache: cutout/scan tasks touch several inner chunks
    * of the same shard, and caching the index for the task's lifetime
    * spares the repeated index GETs. Scoping the key to the task attempt
    * is what makes the cache CORRECT on a multi-executor cluster: a later
    * task — e.g. a read scheduled after an ingest that ran on a different
    * executor — always fetches a fresh index, so the engine's own
    * write-then-read sequences can never see a stale (or negatively-cached
    * absent) index. Within one task the store is read at a point in time —
    * the consistency every object read already has — and entries are NEVER
    * evicted mid-task (an eviction-refetch could mix pre- and post-rewrite
    * offsets inside one cutout); instead a completion listener drops the
    * task's entries when it finishes, so memory is bounded by LIVE tasks ×
    * shards-per-task, and a pathological task simply stops caching at
    * [[MaxCachedPerTask]] rather than evicting others — the cap is tracked
    * PER task scope, so one task touching many shards never disables
    * caching for innocent concurrent tasks, while [[MaxCachedGlobal]]
    * keeps the old executor-wide memory backstop (worst case stays
    * global-cap × index size regardless of task-slot count). Cross-task
    * sharing is deliberately traded away for the snapshot guarantee.
    * Driver-side calls (no TaskContext — direct API use) are uncached: a
    * long-lived driver thread has no completion point, and a stale index
    * there would outlive any write. The exception is a call that opens a
    * [[DriverScope]] (an in-process cutout): its workers share one scope,
    * dropped when the call closes it. Two workers may both miss and fetch
    * one index; the first put wins, so no lock is held across a GET. */
  private val MaxCachedPerTask = 1024
  private val MaxCachedGlobal = 4096
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String, String), Option[Array[Long]]]()
  private val registeredTasks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  // entries currently cached per task scope — bumped on put, dropped with
  // the scope's entries by the completion listener
  private val scopeCounts =
    new java.util.concurrent.ConcurrentHashMap[Long, java.util.concurrent.atomic.AtomicInteger]()

  private def dropScope(scope: Long): Unit = {
    scopeCounts.remove(scope)
    indexCache.keySet().removeIf(k => k._1 == scope)
  }

  /** The cache scope of one driver-side call: [[apply]] runs a read under
    * it on the calling thread, [[close]] drops its entries. Ids are
    * negative, so they never collide with a task attempt id. */
  final class DriverScope private[Shard] (id: Long) {
    def apply[T](read: => T): T = {
      val prev = boundScope.get()
      boundScope.set(id)
      try read finally boundScope.set(prev)
    }
    def close(): Unit = dropScope(id)
  }
  private val nextDriverScope = new java.util.concurrent.atomic.AtomicLong(-1L)
  private val boundScope = new ThreadLocal[java.lang.Long]
  def driverScope(): DriverScope = new DriverScope(nextDriverScope.getAndDecrement())

  def cachedIndex(fs: FileSystem, root: String, key: String, p: Params): Option[Array[Long]] = {
    val tc = org.apache.spark.TaskContext.get()
    val scope: Long =
      if (tc != null) {
        val id = tc.taskAttemptId()
        if (registeredTasks.add(id))
          tc.addTaskCompletionListener[Unit] { _ => registeredTasks.remove(id); dropScope(id) }
        id
      } else boundScope.get() match {
        case null => return readIndex(fs, root, key, p) // driver, no scope: uncached
        case id => id
      }
    val k = (scope, root, key)
    val hit = indexCache.get(k)
    if (hit != null) hit
    else {
      val v = readIndex(fs, root, key, p)
      val n = scopeCounts.computeIfAbsent(scope, _ => new java.util.concurrent.atomic.AtomicInteger())
      if (n.get() < MaxCachedPerTask && indexCache.size() < MaxCachedGlobal &&
        indexCache.putIfAbsent(k, v) == null) n.incrementAndGet()
      v
    }
  }

  /** Drop the CURRENT task's cached entry for a shard it just rewrote (a
    * task that reads, writes, then re-reads the same shard must see its
    * own write). Other scopes hold point-in-time snapshots by design, and
    * tasks that start later never see stale state because their scope is
    * new. A driver-side write runs under no scope, so there is nothing
    * to drop. */
  def invalidate(root: String, key: String): Unit =
    org.apache.spark.TaskContext.get() match {
      case null => ()
      case tc =>
        val scope = tc.taskAttemptId()
        if (indexCache.remove((scope, root, key)) != null) {
          val n = scopeCounts.get(scope)
          if (n != null) n.decrementAndGet()
        }
    }

  /** Decompose a fully-read shard blob into its present inner cells
    * (cell → stored bytes) — the read half of a shard rewrite. */
  def parseAll(p: Params, blob: Array[Byte]): Map[Int, Array[Byte]] = {
    val idxOff = if (p.indexAtEnd) blob.length - p.indexBytes else 0
    val idx = parseIndex(p, java.util.Arrays.copyOfRange(blob, idxOff, idxOff + p.indexBytes))
    (0 until p.numInner).flatMap { cell =>
      val (off, len) = (idx(cell * 2), idx(cell * 2 + 1))
      if (off == Missing || len == Missing) None
      else Some(cell -> java.util.Arrays.copyOfRange(blob, off.toInt, off.toInt + len.toInt))
    }.toMap
  }

  /** Read one inner chunk's stored bytes (still encoded by the inner codec
    * chain) via index lookup + ranged GET. None = absent (missing shard or
    * missing-marked cell). */
  def readInner(fs: FileSystem, root: String, key: String, p: Params,
      wx: Int, wy: Int, wz: Int): Option[Array[Byte]] =
    cachedIndex(fs, root, key, p).flatMap { idx =>
      val cell = p.linear(wx, wy, wz)
      val (off, len) = (idx(cell * 2), idx(cell * 2 + 1))
      if (off == Missing || len == Missing) None
      else {
        require(len <= Int.MaxValue, s"inner chunk larger than 2 GiB in $key")
        Some(ChunkStore.readRange(fs, root, key, off, len.toInt))
      }
    }
}
