package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.SparkSuite
import graft.volume.{Volume, VoxelBuffer}

class PrecomputedSourceSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  def newVolume(): Volume = {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("6_6_30", (100, 100, 5), "gzip", (6, 6, 30), (510, 510, 2022), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-dsv2"), meta)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1)))
    vol
  }

  test("chunk table read: one row per stored chunk, correct coords and keys") {
    val vol = newVolume()
    val df = spark.read.format("precomputed").load(vol.root)
    assert(df.count() == 8)
    val rows = df.select("cx", "cy", "cz", "key").collect()
    assert(rows.map(_.getString(3)).toSet.contains("0-100_0-100_0-5"))
    assert(rows.forall(r => r.getInt(0) >= 1 && r.getInt(0) <= 2))
  }

  test("filter pushdown prunes chunks before any fetch") {
    val vol = newVolume()
    val df = spark.read.format("precomputed").load(vol.root)
      .filter(col("cx") === 1 && col("cy") >= 2 && col("cz") < 2)
    assert(df.count() == 1) // cx=1 ∧ cy=2 ∧ cz=1 — one grid cell
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PrecomputedScan"), plan)
    assert(plan.contains("bounds=IdBounds"), plan)
  }

  test("pruned/blob scans never list; unbounded metadata scans list once per scale") {
    val vol = newVolume() // 6x6x405 grid = 14580 cells > ListingThreshold
    val before = graft.volume.ChunkStore.listCalls.get()
    val df = spark.read.format("precomputed").load(vol.root)
    // bounded scan and blob-materializing scan: arithmetic probe plan, no LIST
    assert(df.filter(col("cx") === 2).count() == 4)
    assert(df.select("key", "blob").collect().length == 8)
    assert(graft.volume.ChunkStore.listCalls.get() == before,
      "pruned/blob DSv2 scans must not call ChunkStore.list")
    // unbounded metadata scans on a large grid: one bounded prefix LIST per
    // x chunk column (6 columns at 510/100), instead of a probe per grid cell
    assert(df.count() == 8)
    assert(df.select("cx", "key").count() == 8)
    val lists = graft.volume.ChunkStore.listCalls.get() - before
    assert(lists == 2L * 6,
      s"expected 6 per-column LISTs per unbounded metadata scan, got $lists")
  }

  test("petavoxel-scale planning: billions of grid cells plan in O(partitions)") {
    // a virtual volume of 10^6 voxels per axis with 512-chunks: ~7.45e9 grid
    // cells. Planning must not enumerate them (linear-id spans only) and a
    // bounded query must probe just its own cells.
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (512, 512, 512), "gzip", (1, 1, 1),
        (1000000, 1000000, 1000000), (0, 0, 0))))
    val root = SparkSuite.tempDir("graft-peta")
    Volume.create(spark, root, meta) // info only; zero chunk objects
    val df = spark.read.format("precomputed").load(root)
    val t0 = System.nanoTime()
    val nParts = df.queryExecution.toRdd.getNumPartitions
    val planMs = (System.nanoTime() - t0) / 1e6
    assert(nParts <= spark.sparkContext.defaultParallelism * 2)
    assert(planMs < 5000, s"planning took $planMs ms — must not scale with grid size")
    // bounded query: executes by probing exactly one cell
    assert(df.filter(col("cx") === 1 && col("cy") === 1 && col("cz") === 1).count() == 0)
  }

  test("contradictory pushed bounds plan zero partitions") {
    val vol = newVolume()
    val df = spark.read.format("precomputed").load(vol.root)
      .filter(col("cx") >= 2 && col("cx") <= 1)
    assert(df.count() == 0)
  }

  test("overwrite mode truncates the scale before writing") {
    val src = newVolume()
    val dstRoot = SparkSuite.tempDir("graft-dsv2-trunc")
    Volume.create(spark, dstRoot, src.meta)
    spark.read.format("precomputed").load(src.root)
      .write.format("precomputed").mode("append").save(dstRoot)
    assert(spark.read.format("precomputed").load(dstRoot).count() == 8)
    // overwrite with a 1-chunk subset: stale chunks must disappear
    spark.read.format("precomputed").load(src.root)
      .filter(col("cx") === 1 && col("cy") === 1 && col("cz") === 1)
      .write.format("precomputed").mode("overwrite").save(dstRoot)
    val left = spark.read.format("precomputed").load(dstRoot)
    assert(left.count() == 1)
    assert(left.select("key").collect().head.getString(0) == "0-100_0-100_0-5")
    // info survives the truncate
    assert(Volume.open(spark, dstRoot).meta == src.meta)
  }

  test("column pruning: scans without blob never read objects") {
    val vol = newVolume()
    // delete a chunk object behind the table's back: a blob-free scan must
    // still succeed (it would throw if it fetched objects)
    val f = new java.io.File(vol.root, "6_6_30/100-200_100-200_5-10")
    assert(f.delete())
    val df = spark.read.format("precomputed").load(vol.root).select("cx", "cy", "cz")
    assert(df.count() == 7)
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(!scanDesc.contains("blob"), scanDesc)
  }

  test("blob reads decode to the ingested bytes") {
    val vol = newVolume()
    val row = spark.read.format("precomputed").load(vol.root)
      .filter(col("key") === "0-100_0-100_0-5").select("blob").collect().head
    val decoded = graft.core.Codec.GzipCodec.decode(row.getAs[Array[Byte]](0))
    val expect = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
      .slice(Box(1, 100, 1, 100, 1, 5))
    assert(decoded.sameElements(expect.bytes))
  }

  test("SQL over the source: aggregate chunk metadata without blobs") {
    val vol = newVolume()
    spark.read.format("precomputed").load(vol.root).createOrReplaceTempView("chunks")
    val n = spark.sql("SELECT count(*) FROM chunks").collect().head.getLong(0)
    assert(n == 8)
    val perZ = spark.sql(
      "SELECT cz, count(*) AS n FROM chunks GROUP BY cz ORDER BY cz").collect()
    assert(perZ.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 4L), (2, 4L)))
  }

  test("DSv2 write: chunk rows become store objects readable via cutout") {
    val src = newVolume()
    // copy chunks into a fresh volume through the connector
    val meta2 = src.meta
    val dstRoot = SparkSuite.tempDir("graft-dsv2-dst")
    Volume.create(spark, dstRoot, meta2)
    spark.read.format("precomputed").load(src.root)
      .write.format("precomputed").mode("append").save(dstRoot)
    val dst = Volume.open(spark, dstRoot)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    assert(dst.cutout(buf.box) == buf)
  }

  test("a scan and a write each broadcast the store conf: no task deserializes one") {
    import graft.volume.ChunkStore
    val src = newVolume()
    val dstRoot = SparkSuite.tempDir("graft-dsv2-conf")
    Volume.create(spark, dstRoot, src.meta)
    val before = ChunkStore.confDeserialized.get()
    val rows = spark.read.format("precomputed").load(src.root)
    assert(rows.select("key", "blob").collect().length == 8)
    rows.write.format("precomputed").mode("append").save(dstRoot)
    // local-mode tasks read a broadcast from the driver's block manager
    assert(ChunkStore.confDeserialized.get() == before)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    assert(Volume.open(spark, dstRoot).cutout(buf.box) == buf)
  }

  test(".gz-suffixed stores read fully; absent cells cost ONE probe once resolved") {
    val vol = newVolume()
    val dir = new java.io.File(vol.root, "6_6_30")
    dir.listFiles().foreach(f => assert(f.renameTo(new java.io.File(dir, f.getName + ".gz"))))
    // the DSv2 scan resolves the spelling and still surfaces every chunk
    val df = spark.read.format("precomputed").load(vol.root)
    val keys = df.select("key").collect().map(_.getString(0)).toSet
    assert(keys.size == 8 && keys.forall(_.endsWith(".gz")), keys)
    // blob path resolves too: bytes decode under the suffixed spelling
    val blob = df.filter(col("key") === "0-100_0-100_0-5.gz")
      .select("blob").collect().head.getAs[Array[Byte]](0)
    assert(graft.core.Codec.GzipCodec.decode(blob).nonEmpty)
    // after the first hit the prober knows the store's convention: an absent
    // key costs exactly one existence probe, not a plain+.gz pair
    val fs = graft.volume.ChunkStore.fs(vol.root, spark.sessionState.newHadoopConf())
    val prober = new graft.volume.ChunkStore.SuffixProber(fs, vol.root)
    assert(prober.resolve("6_6_30/0-100_0-100_0-5").contains("6_6_30/0-100_0-100_0-5.gz"))
    val before = graft.volume.ChunkStore.probeCalls.get()
    assert(prober.resolve("6_6_30/200-300_0-100_0-5").isEmpty)
    assert(graft.volume.ChunkStore.probeCalls.get() == before + 1,
      "absent cell after resolution must cost exactly one existence probe")
  }

  test("sparse store: unbounded metadata scan plans from listing — O(objects), zero probes") {
    // 1024x1024x64 volume on a 16^3 grid = 16384 cells, only 2 present (<1%)
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 16), "gzip", (1, 1, 1), (1024, 1024, 64), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-sparse"), meta)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 32, 16, 16, 1, (1, 1, 1))) // 2 chunks
    val probesBefore = graft.volume.ChunkStore.probeCalls.get()
    val df = spark.read.format("precomputed").load(vol.root).select("cx", "cy", "cz", "key")
    // listing fan-out scales with store width: 64 x-columns plan as >11
    // partitions (the r4 leading-digit shards capped at 11 at any size),
    // bounded by maxListingTasks so a million-column store can't explode
    val parts = df.queryExecution.toRdd.getNumPartitions
    assert(parts > 11, s"wide store must shard listing beyond 11 ways, got $parts")
    assert(parts <= graft.sources.PrecomputedScan.maxListingTasks(
      spark.sparkContext.defaultParallelism))
    assert(df.count() == 2)
    assert(df.collect().map(_.getString(3)).toSet == Set("0-16_0-16_0-16", "16-32_0-16_0-16"))
    assert(graft.volume.ChunkStore.probeCalls.get() == probesBefore,
      "unbounded sparse scan must enumerate by listing, not probe 16384 cells")
    // bounded scans keep the arithmetic probe plan: no listing
    val listBefore = graft.volume.ChunkStore.listCalls.get()
    assert(df.filter(col("cx") === 1 && col("cy") === 1 && col("cz") === 1).count() == 1)
    assert(graft.volume.ChunkStore.listCalls.get() == listBefore,
      "pruned scans must not list the store")
    // explicit override forces the probe plan even unbounded
    val lb2 = graft.volume.ChunkStore.listCalls.get()
    assert(spark.read.format("precomputed").option("planning", "probe")
      .load(vol.root).select("cx").count() == 2)
    assert(graft.volume.ChunkStore.listCalls.get() == lb2)
  }

  test("forced listing honors pushed bounds; listing parses .gz spellings") {
    val vol = newVolume()
    // bounded scan under planning=listing: listed keys filtered by IdBounds
    val bounded = spark.read.format("precomputed").option("planning", "listing")
      .load(vol.root).filter(col("cx") === 1 && col("cz") === 1)
    assert(bounded.select("key").collect().map(_.getString(0)).toSet ==
      Set("0-100_0-100_0-5", "0-100_100-200_0-5"))
    // a .gz-suffixed store lists and parses identically (suffix kept in key)
    val dir = new java.io.File(vol.root, "6_6_30")
    dir.listFiles().foreach(f => assert(f.renameTo(new java.io.File(dir, f.getName + ".gz"))))
    val listed = spark.read.format("precomputed").option("planning", "listing")
      .load(vol.root).select("cx", "cy", "cz", "key").collect()
    assert(listed.length == 8)
    assert(listed.map(_.getString(3)).forall(_.endsWith(".gz")))
  }

  test("multi-mip table spans the pyramid; mip filter prunes scales") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (32, 32, 4), (0, 0, 0)))).withNumMips(2)
    val root = SparkSuite.tempDir("graft-mmip")
    val vol = Volume.create(spark, root, meta)
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 32, 32, 4, 1, (1, 1, 1)))
    graft.ops.VolumeOps.buildNextMip(vol, graft.core.Grid.Box(1, 32, 1, 32, 1, 4))
    val all = spark.read.format("precomputed").load(root) // no mip option
    assert(all.groupBy("mip").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(1 -> 4L, 2 -> 1L))
    // mip pushdown prunes scale listings
    assert(all.filter(col("mip") === 2).count() == 1)
    // per-row mip routing on write: copy the full pyramid to a new store
    val dst = SparkSuite.tempDir("graft-mmip-dst")
    Volume.create(spark, dst, meta)
    all.write.format("precomputed").mode("append").save(dst)
    val dstAll = spark.read.format("precomputed").load(dst)
    assert(dstAll.count() == 5)
  }
}
