package graft.volume

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.SparkSuite

/** A Hadoop FileSystem registered under a NON-file scheme (`mock3a:`),
  * backed by local disk. Exercises the exact mechanics a cloud store uses —
  * scheme → impl resolution through `fs.<scheme>.impl`, SerializableConf
  * shipping that registration to executor tasks, Path round-trips through a
  * scheme-qualified root — without needing egress. Instantiated by Hadoop
  * via reflection (must be a public top-level class). */
class Mock3aFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mock3a"
  override def getUri: java.net.URI = java.net.URI.create("mock3a:///")
}

/** Fault injection for the retry path: a countdown of transient failures
  * shared with [[FlakyFileSystem]] (static because Hadoop instantiates the
  * FS via reflection and caches it; local-mode executors share the JVM so
  * executor-side ops see the same countdown). */
object FlakyFaults {
  val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
  def shouldFail(): Boolean = remaining.getAndUpdate(n => math.max(0, n - 1)) > 0
  /** Every `open` call, and a delay each one sleeps first. */
  val opens = new java.util.concurrent.atomic.AtomicLong(0)
  val openDelayMs = new java.util.concurrent.atomic.AtomicLong(0)
}

/** A `flaky3a:` FileSystem whose next-N data ops throw a transient
  * IOException (the 503/reset class a cloud connector surfaces) before
  * behaving like local disk — proving ChunkStore's E3 backoff retries
  * whole ops (reopen, re-create) end-to-end, not just in a unit mock. */
class FlakyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky3a"
  override def getUri: java.net.URI = java.net.URI.create("flaky3a:///")
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    FlakyFaults.opens.incrementAndGet()
    if (FlakyFaults.openDelayMs.get() > 0) Thread.sleep(FlakyFaults.openDelayMs.get())
    if (FlakyFaults.shouldFail()) throw new java.io.IOException("injected transient failure (open)")
    super.open(p, bufferSize)
  }
  override def create(p: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    if (FlakyFaults.shouldFail()) throw new java.io.IOException("injected transient failure (create)")
    super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

/** The cloud-path cycle the zero-egress container can actually prove:
  * create/ingest/cutout/missingChunks/DSv2-read against a `mock3a:` root.
  * Every byte moves through FileSystem dispatch exactly as it would for
  * `s3a://`/`gs://` (same ChunkStore entry points, same conf plumbing);
  * only the transport under RawLocalFileSystem differs. */
class MockSchemeSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  test("full volume cycle over a non-file scheme: dispatch + executor conf plumbing") {
    // context-level hadoop conf: flows into newHadoopConf() on the driver
    // AND ships to executors inside ChunkStore.SerializableConf
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3a.impl", classOf[Mock3aFileSystem].getName)
    val local = SparkSuite.tempDir("graft-mock3a")
    val root = s"mock3a:$local" // scheme-qualified, no authority

    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0))))
    val vol = Volume.create(spark, root, meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 32, 32, 4, 1, (1, 1, 1))
    vol.ingest(buf) // executor-side writes through the mock scheme

    // bytes really landed where the scheme's impl put them (local disk),
    // in reference key format — proof the dispatch ran, not a file:// bypass
    val objs = new java.io.File(local, "1_1_1").listFiles().map(_.getName).toSet
    assert(objs == Set("0-16_0-16_0-4", "16-32_0-16_0-4", "0-16_16-32_0-4", "16-32_16-32_0-4"))

    // read side: open (info), cutout (executor fetch+decode), missing probe
    val reopened = Volume.open(spark, root)
    assert(reopened.meta == meta)
    assert(reopened.cutout(Box(1, 32, 1, 32, 1, 4)) == buf)
    assert(reopened.missingChunks(Box(1, 32, 1, 32, 1, 4)).collect().isEmpty)

    // DSv2 connector through the same scheme
    val df = spark.read.format("precomputed").load(root)
    assert(df.count() == 4)

    // delete one object behind the store's back: missingChunks sees it
    assert(new java.io.File(local, "1_1_1/16-32_16-32_0-4").delete())
    assert(reopened.missingChunks(Box(1, 32, 1, 32, 1, 4)).collect().toSeq ==
      Seq("16-32_16-32_0-4"))
  }

  test("transient store failures are retried with backoff through the FS layer") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.flaky3a.impl", classOf[FlakyFileSystem].getName)
    hconf.set(ChunkStore.RetryBaseMsKey, "1") // keep the spec fast
    val local = SparkSuite.tempDir("graft-flaky3a")
    val root = s"flaky3a:$local"
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0))))
    val vol = Volume.create(spark, root, meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 32, 32, 4, 1, (1, 1, 1))

    // ingest through injected create failures: each of the 4 chunk PUTs can
    // absorb up to 3 transient faults (attempts default 4); inject 3 total
    val before = ChunkStore.retriesObserved.get()
    FlakyFaults.remaining.set(3)
    vol.ingest(buf)
    assert(FlakyFaults.remaining.get() == 0, "injected write faults were consumed")

    // cutout through injected open failures
    FlakyFaults.remaining.set(3)
    val got = Volume.open(spark, root).cutout(Box(1, 32, 1, 32, 1, 4))
    assert(got == buf, "data survives transient read faults byte-for-byte")
    assert(FlakyFaults.remaining.get() == 0, "injected read faults were consumed")
    assert(ChunkStore.retriesObserved.get() - before >= 6,
      "every injected fault was absorbed by a retry, not an error path")

    // a PERMANENT failure still fails: more faults than attempts on one op
    FlakyFaults.remaining.set(1000)
    val ex = intercept[Exception] {
      ChunkStore.read(ChunkStore.fs(root, hconf), root, "1_1_1/0-16_0-16_0-4")
    }
    FlakyFaults.remaining.set(0)
    assert(ex.getMessage != null)
    // and a MISSING key is a result, not a retried fault (no backoff burn)
    val r0 = ChunkStore.retriesObserved.get()
    assert(ChunkStore.readOpt(ChunkStore.fs(root, hconf), root, "1_1_1/nope").isEmpty)
    assert(ChunkStore.retriesObserved.get() == r0, "not-found is never retried")
    hconf.unset(ChunkStore.RetryBaseMsKey)
  }

  test("a transient fault in one cutout worker is retried; a strict missing chunk stops every worker") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.flaky3a.impl", classOf[FlakyFileSystem].getName)
    hconf.set(ChunkStore.RetryBaseMsKey, "1")
    try {
      val local = SparkSuite.tempDir("graft-flaky3a-workers")
      val root = s"flaky3a:$local"
      // 4 x 4 x 4 chunks, so every worker has several to read
      val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
        Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (64, 64, 16), (0, 0, 0))))
      val buf = VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 16, 1, (1, 1, 1))
      Volume.create(spark, root, meta).ingest(buf)
      val box = Box(1, 64, 1, 64, 1, 16)

      val vol = Volume.open(spark, root)
      val retries = ChunkStore.retriesObserved.get()
      FlakyFaults.remaining.set(1)
      assert(vol.cutout(box) == buf)
      assert(FlakyFaults.remaining.get() == 0, "a worker met the fault")
      assert(ChunkStore.retriesObserved.get() - retries == 1, "and retried it once")

      // the first chunk a worker claims (id 0) is missing; every open
      // sleeps, so the others would take ~0.3 s to read all 64 chunks
      assert(new java.io.File(local, "1_1_1/0-16_0-16_0-4").delete())
      val strict = new Volume(spark, root, meta, 1, fillMissing = false)
      FlakyFaults.openDelayMs.set(20)
      val opens = FlakyFaults.opens.get()
      val e = intercept[ChunkStore.MissingChunkException](strict.cutout(box))
      val opened = FlakyFaults.opens.get()
      assert(e.key == "1_1_1/0-16_0-16_0-4")
      assert(opened - opens <= 32, s"the failure stopped the other workers: ${opened - opens} opens")
      Thread.sleep(200)
      assert(FlakyFaults.opens.get() == opened, "no worker reads after the cutout throws")
    } finally {
      FlakyFaults.remaining.set(0)
      FlakyFaults.openDelayMs.set(0)
      hconf.unset(ChunkStore.RetryBaseMsKey)
    }
  }

  test("a handle keeps the store conf of its first chunk job; a new open sees later changes") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.flaky3a.impl", classOf[FlakyFileSystem].getName)
    // uncached: each FileSystem instance carries the conf it was opened
    // with, so the retry policy comes from the handle's conf snapshot
    hconf.setBoolean("fs.flaky3a.impl.disable.cache", true)
    hconf.set(ChunkStore.RetryBaseMsKey, "1")
    hconf.set(ChunkStore.RetryAttemptsKey, "2")
    try {
      val root = s"flaky3a:${SparkSuite.tempDir("graft-flaky3a-snap")}"
      val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
        Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0))))
      val buf = VoxelBuffer.sequenced(Meta.TUInt8, 32, 32, 4, 1, (1, 1, 1))
      Volume.create(spark, root, meta).ingest(buf)
      val box = Box(1, 32, 1, 32, 1, 4)
      val old = Volume.open(spark, root)
      assert(old.cutout(box) == buf) // first chunk job: conf snapshot, 2 attempts

      hconf.set(ChunkStore.RetryAttemptsKey, "1") // no retries from here on
      FlakyFaults.remaining.set(1)
      assert(old.cutout(box) == buf, "the old handle still retries once")
      assert(FlakyFaults.remaining.get() == 0)

      val fresh = Volume.open(spark, root)
      FlakyFaults.remaining.set(1)
      val e = intercept[java.io.IOException](fresh.cutout(box))
      assert(e.getMessage.contains("injected transient failure"), e.getMessage)
      assert(FlakyFaults.remaining.get() == 0, "the new handle's one attempt met the fault")
    } finally {
      FlakyFaults.remaining.set(0)
      Seq("fs.flaky3a.impl.disable.cache", ChunkStore.RetryBaseMsKey, ChunkStore.RetryAttemptsKey)
        .foreach(hconf.unset)
    }
  }

  test("the voxel view reads with the handle's store conf, broadcast once") {
    import org.apache.spark.sql.functions.{col, sum}
    import org.apache.spark.graftshim.BlockProbe
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.flaky3a.impl", classOf[FlakyFileSystem].getName)
    hconf.setBoolean("fs.flaky3a.impl.disable.cache", true)
    hconf.set(ChunkStore.RetryBaseMsKey, "1")
    hconf.set(ChunkStore.RetryAttemptsKey, "2")
    try {
      val root = s"flaky3a:${SparkSuite.tempDir("graft-flaky3a-scan")}"
      val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
        Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0))))
      val buf = VoxelBuffer.sequenced(Meta.TUInt8, 32, 32, 4, 1, (1, 1, 1))
      Volume.create(spark, root, meta).ingest(buf)
      val box = Box(1, 32, 1, 32, 1, 4)
      var want = 0L
      for (z <- 0 until 4; y <- 0 until 32; x <- 0 until 32) want += buf.getLong(x, y, z)
      def total(df: org.apache.spark.sql.DataFrame): Long = df.agg(sum("value")).head().getLong(0)
      val old = Volume.open(spark, root)
      assert(old.cutout(box) == buf) // first chunk job: conf snapshot, 2 attempts

      hconf.set(ChunkStore.RetryAttemptsKey, "1") // no retries from here on
      for ((name, df) <- Seq("toVoxels" -> old.toVoxels(box),
          "voxels()" -> old.voxels().filter(col("x") <= 32))) {
        FlakyFaults.remaining.set(1)
        assert(total(df) == want, s"$name: the old handle still retries once")
        assert(FlakyFaults.remaining.get() == 0, name)
      }
      val fresh = Volume.open(spark, root)
      FlakyFaults.remaining.set(1)
      intercept[org.apache.spark.SparkException](total(fresh.voxels()))
      assert(FlakyFaults.remaining.get() == 0, "the new handle's one attempt met the fault")

      // ten more voxel queries: no new conf broadcast, no conf deserialized
      val confs = BlockProbe.broadcastsOf(classOf[ChunkStore.SerializableConf])
      val before = ChunkStore.confDeserialized.get()
      for (i <- 1 to 5) {
        assert(total(old.voxels().filter(col("z") === i % 4 + 1)) > 0)
        assert(total(old.toVoxels(Box(i, 32, 1, 32, 1, 4))) > 0)
      }
      assert(ChunkStore.confDeserialized.get() == before)
      assert((BlockProbe.broadcastsOf(classOf[ChunkStore.SerializableConf]) -- confs).isEmpty)
    } finally {
      FlakyFaults.remaining.set(0)
      Seq("fs.flaky3a.impl.disable.cache", ChunkStore.RetryBaseMsKey, ChunkStore.RetryAttemptsKey)
        .foreach(hconf.unset)
    }
  }

  test("sharded zarr v3 over a non-file scheme: ranged GETs through FS dispatch") {
    // the sharded read path is index fetch + ranged read (seek + bounded
    // readFully — a Range GET on cloud connectors); driving it through the
    // mock scheme proves those primitives work behind scheme dispatch, not
    // just through file:// shortcuts
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3a.impl", classOf[Mock3aFileSystem].getName)
    val local = SparkSuite.tempDir("graft-mock3a-shard")
    val root = s"mock3a:$local"
    val vol = graft.sources.Zarr3.createSharded(spark, root, shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2),
      dataType = Meta.TUInt16, encoding = "gzip")
    val buf = VoxelBuffer.sequenced(Meta.TUInt16, 16, 8, 4, 1, (1, 1, 1))
    vol.ingest(buf)
    // two shard objects on the backing disk, no per-chunk objects
    def files(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) p.listFiles().toSeq.flatMap(files) else Seq(p)
    assert(files(new java.io.File(local, "c")).length == 2)
    val reopened = graft.sources.Zarr3.open(spark, root)
    assert(reopened.cutout(Box(1, 16, 1, 8, 1, 4)) == buf)
    assert(reopened.missingChunks(Box(1, 16, 1, 8, 1, 4)).collect().isEmpty)
  }
}
