package graft.volume

import java.io.{ByteArrayOutputStream, FileNotFoundException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Key-value chunk store over any Hadoop FileSystem (`file://`, `s3a://`,
  * `gs://`, hdfs, ...) — the engine's counterpart of the reference's backend
  * dictionaries (reference: src/BackendBase.jl:3, src/backends/ dir). Protocol
  * dispatch is Hadoop path-scheme resolution, replacing the reference's
  * hand-rolled prefix dispatch (reference: src/type.jl:37-50).
  *
  * Store semantics preserved from the reference:
  *  - a missing key raises [[MissingChunkException]] (≅ `KeyError`,
  *    reference: src/backends/S3Dicts.jl:79-98 maps NoSuchKey → KeyError);
  *  - last-writer-wins per object, no transactions (matches the reference's
  *    object-store model).
  */
object ChunkStore {

  final class MissingChunkException(val key: String)
    extends RuntimeException(s"no such chunk key in store: $key")

  /** Hadoop Configuration isn't Serializable; this wrapper ships it to
    * executors via its writable form (public Hadoop API only). */
  final class SerializableConf(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      confDeserialized.incrementAndGet()
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }

  /** Test instrumentation: total [[SerializableConf]] deserializations. A
    * volume handle broadcasts its conf once, so in local mode (executors
    * share the driver's block manager) its chunk jobs leave this flat;
    * specs assert the delta. */
  val confDeserialized = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-scheme cloud configuration for a store at `root` holding chunks in
    * `encoding` — the engine's analog of the reference's per-backend PUT
    * headers (reference: src/backends/S3Dicts.jl:57-77, GSDicts.jl:54-68).
    *
    * Config matrix (all delegated to the Hadoop connectors; credentials come
    * from each connector's standard provider chain — AWS chain for s3a
    * (S3Dicts.jl:24-38), application-default credentials for gs):
    *
    *  - `s3a://` + gzip chunks → `fs.s3a.object.content.encoding=gzip`, so
    *    every object the connector creates advertises its encoding exactly
    *    like the reference's S3 PUT (S3Dicts.jl:60-65).
    *  - `gs://` + gzip chunks → the reference sets `contentEncoding` through
    *    the GCS JSON API (GSDicts.jl:56-68); the Hadoop gcs-connector exposes
    *    no per-object Content-Encoding knob, so nothing is set. This engine
    *    does not depend on it: decode sniffs codec magic (graft.core.Codec),
    *    so chunks read back correctly with or without transcoding metadata.
    *  - any scheme + non-gzip chunks → nothing to declare.
    *
    * Returns the same Configuration instance, mutated. */
  def storeConf(conf: Configuration, root: String, encodingName: String): Configuration = {
    val scheme = new Path(root).toUri.getScheme
    if (scheme == "s3a" && encodingName == "gzip")
      conf.set("fs.s3a.object.content.encoding", "gzip")
    conf
  }

  def fs(root: String, conf: Configuration): FileSystem = {
    val f = new Path(root).getFileSystem(conf)
    // no .crc sidecar objects: the store layout must stay byte-compatible
    // with the precomputed format (one object per chunk + info)
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  /** Conf keys for the transient-failure retry policy (read off the
    * FileSystem's own Configuration, so the policy ships to executors with
    * the store conf like every other per-store setting). */
  val RetryAttemptsKey = "graft.store.retry.attempts"
  val RetryBaseMsKey = "graft.store.retry.base.ms"

  /** Test instrumentation: count of retried (transient-failed) store ops. */
  val retriesObserved = new java.util.concurrent.atomic.AtomicLong(0)

  /** Exponential-backoff retry around one store primitive — the engine's
    * own E3 (reference: src/backends/S3Dicts.jl retry loops / GSDicts.jl
    * transient-error handling; the cloud connectors' request-level retries
    * still apply underneath, this layer covers whole-op failures like a
    * stream dying mid-read, where the op must REOPEN, not re-request).
    * Retries `IOException`s up to `graft.store.retry.attempts` (default 4)
    * starting at `graft.store.retry.base.ms` (default 100 ms, doubling).
    * Not-found is a RESULT, not a fault: `FileNotFoundException` propagates
    * immediately (callers map it to [[MissingChunkException]] / None). The
    * whole op body is inside the retry, so a reopen gets fresh streams. */
  private def withRetry[T](fs: FileSystem)(op: => T): T = {
    val conf = fs.getConf
    val attempts = math.max(1, conf.getInt(RetryAttemptsKey, 4))
    var delay = math.max(0L, conf.getLong(RetryBaseMsKey, 100L))
    var i = 1
    while (i < attempts) {
      try return op
      catch {
        case e: java.io.IOException if !e.isInstanceOf[FileNotFoundException] =>
          retriesObserved.incrementAndGet()
          if (delay > 0) Thread.sleep(delay)
          delay *= 2
          i += 1
      }
    }
    op // final attempt: let the failure propagate
  }

  def read(fs: FileSystem, root: String, key: String): Array[Byte] = {
    val p = new Path(root, key)
    try withRetry(fs) {
      val in = fs.open(p)
      try {
        val out = new ByteArrayOutputStream(64 * 1024)
        val buf = new Array[Byte](256 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    } catch {
      case _: FileNotFoundException => throw new MissingChunkException(key)
    }
  }

  def readOpt(fs: FileSystem, root: String, key: String): Option[Array[Byte]] =
    try Some(read(fs, root, key)) catch { case _: MissingChunkException => None }

  def write(fs: FileSystem, root: String, key: String, bytes: Array[Byte]): Unit = {
    val p = new Path(root, key)
    // overwrite-create is idempotent, so whole-op retry is safe
    withRetry(fs) {
      val out = fs.create(p, true)
      try out.write(bytes) finally out.close()
    }
  }

  def exists(fs: FileSystem, root: String, key: String): Boolean = {
    probeCalls.incrementAndGet()
    withRetry(fs)(fs.exists(new Path(root, key)))
  }

  /** Test instrumentation: total existence probes (`exists` calls). The
    * suffix-resolving read paths must cost ONE probe per absent cell once a
    * store's spelling is known — specs assert the delta. */
  val probeCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Resolves a store's key-suffix convention — plain `x0-x1_y0-y1_z0-z1`
    * vs a trailing `.gz` (the reference accepts both spellings,
    * src/backends/S3Dicts.jl:100-118 / src/Indexes.jl:96-106) — from the
    * first successful probe, then probes a single spelling per cell.
    * Without this, every ABSENT cell of an unbounded scan costs two
    * existence checks (two HEADs per empty cell on an object store).
    *
    * A store is written under one convention (every known writer, including
    * this engine, picks one spelling); until the first hit both spellings
    * are probed, after it only the resolved one. A hand-mixed store would
    * need per-key double probes again — documented limitation, not a
    * supported layout. One instance per reader/partition (cheap, not
    * thread-safe, resolution is a per-task warm-up). */
  final class SuffixProber(fs: FileSystem, root: String) {
    private var suffix: Int = -1 // -1 unknown, 0 plain, 1 ".gz"

    /** The stored spelling of `key` if the object exists, else None. */
    def resolve(key: String): Option[String] = suffix match {
      case 0 => if (exists(fs, root, key)) Some(key) else None
      case 1 => val k = s"$key.gz"; if (exists(fs, root, k)) Some(k) else None
      case _ =>
        if (exists(fs, root, key)) { suffix = 0; Some(key) }
        else {
          val k = s"$key.gz"
          if (exists(fs, root, k)) { suffix = 1; Some(k) } else None
        }
    }

    /** Read `key` under the resolved convention: (bytes, stored spelling). */
    def readOpt(key: String): Option[(Array[Byte], String)] = suffix match {
      case 0 => ChunkStore.readOpt(fs, root, key).map((_, key))
      case 1 => val k = s"$key.gz"; ChunkStore.readOpt(fs, root, k).map((_, k))
      case _ =>
        ChunkStore.readOpt(fs, root, key) match {
          case Some(b) => suffix = 0; Some((b, key))
          case None =>
            val k = s"$key.gz"
            ChunkStore.readOpt(fs, root, k) match {
              case Some(b) => suffix = 1; Some((b, k))
              case None => None
            }
        }
    }
  }

  def delete(fs: FileSystem, root: String, key: String): Boolean =
    fs.delete(new Path(root, key), false)

  /** Object length, or None if absent — one metadata probe (HEAD). */
  def lengthOf(fs: FileSystem, root: String, key: String): Option[Long] =
    try Some(withRetry(fs)(fs.getFileStatus(new Path(root, key)).getLen))
    catch { case _: FileNotFoundException => None }

  /** Ranged read `[off, off+len)` — the object-store GET-Range primitive
    * (sharded formats depend on it: fetch an index or one inner chunk
    * without downloading the shard). Hadoop `seek` + bounded `readFully`
    * maps to a Range GET on s3a/gs connectors. */
  def readRange(fs: FileSystem, root: String, key: String, off: Long, len: Int): Array[Byte] = {
    val tr = rangeTrace.get()
    if (tr != null) tr.add((s"$root/$key", off, len))
    val p = new Path(root, key)
    try withRetry(fs) {
      val in = fs.open(p)
      try {
        val out = new Array[Byte](len)
        in.seek(off)
        in.readFully(out, 0, len)
        out
      } finally in.close()
    } catch {
      case _: FileNotFoundException => throw new MissingChunkException(key)
    }
  }

  /** Test instrumentation: total `list` invocations. Read-side planning must
    * never list the store (the chunk grid is computed arithmetically, like the
    * reference's ChunkIterators); specs assert this stays flat across scans. */
  val listCalls = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test instrumentation: when non-null, every [[readRange]] appends
    * `(root/key, off, len)` — the hook read-amplification contract specs
    * use to assert a partial-coverage sharded read fetches one index plus
    * one ranged GET per touched inner cell, never the whole shard.
    * Concurrent suites may interleave records; filter by your own root. */
  val rangeTrace = new java.util.concurrent.atomic.AtomicReference[
    java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int)]](null)

  /** List object names under `root/prefix` (non-recursive), like the
    * backends' `keys` (reference: src/backends/S3Dicts.jl:104-112). */
  def list(fs: FileSystem, root: String, prefix: String): Seq[String] = {
    listCalls.incrementAndGet()
    val dir = if (prefix.isEmpty) new Path(root) else new Path(root, prefix)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).filterNot(_.startsWith("."))
  }

  /** Streaming variant of [[list]] for unbounded-size prefixes: object names
    * arrive in listing pages (the object-store LIST API shape), never
    * materialized whole. */
  def listIterator(fs: FileSystem, root: String, prefix: String): Iterator[String] = {
    listCalls.incrementAndGet()
    val dir = if (prefix.isEmpty) new Path(root) else new Path(root, prefix)
    if (!fs.exists(dir)) Iterator.empty
    else {
      val it = fs.listStatusIterator(dir)
      new Iterator[String] {
        def hasNext: Boolean = it.hasNext
        def next(): String = it.next().getPath.getName
      }.filterNot(_.startsWith("."))
    }
  }

  /** Object names under `root/prefix` matching a name glob — the sharded
    * LIST: on object stores a leading-literal glob (`3*`) is a bounded
    * prefix enumeration, which is what lets several tasks list one flat
    * scale directory in parallel. */
  def globNames(fs: FileSystem, root: String, prefix: String, pattern: String): Iterator[String] = {
    listCalls.incrementAndGet()
    val base = if (prefix.isEmpty) new Path(root) else new Path(root, prefix)
    val matches = fs.globStatus(new Path(base, pattern))
    if (matches == null) Iterator.empty
    else matches.iterator.map(_.getPath.getName).filterNot(_.startsWith("."))
  }

  /** Like [[globNames]] but returns paths RELATIVE to `root/prefix` —
    * required for NESTED key layouts (zarr v3 `c/z/y/x`, N5 `x/y/z`) where
    * the last path segment alone does not identify the chunk. A multi-level
    * glob with a literal leading segment (wildcards only BELOW it, e.g.
    * "c/5" then per-level wildcards) is still one bounded prefix
    * enumeration on an object store (delimiter-less LIST under the literal
    * prefix), so this counts as ONE list call like its flat sibling. */
  def globRelPaths(fs: FileSystem, root: String, prefix: String, pattern: String): Iterator[String] = {
    globRelSizes(fs, root, prefix, pattern).map(_._1)
  }

  /** Like [[globRelPaths]] but keeps the object size the listing already
    * carries (`FileStatus.getLen`) — the storage-audit primitive: byte
    * sizes for a whole store from LIST calls alone, zero GETs. */
  def globRelSizes(fs: FileSystem, root: String, prefix: String,
      pattern: String): Iterator[(String, Long)] = {
    listCalls.incrementAndGet()
    val base = if (prefix.isEmpty) new Path(root) else new Path(root, prefix)
    val basePath = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
    val matches = fs.globStatus(new Path(base, pattern))
    if (matches == null) Iterator.empty
    else matches.iterator
      .map(st => (st.getPath.toUri.getPath.stripPrefix(basePath).stripPrefix("/"), st.getLen))
      .filterNot { case (rel, _) => rel.isEmpty || rel.split('/').exists(_.startsWith(".")) }
  }
}
