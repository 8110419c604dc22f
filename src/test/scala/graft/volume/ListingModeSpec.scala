package graft.volume

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.SparkSuite

/** Listing-mode enumeration parity across every per-chunk key layout.
  *
  * A sparse 100 TB store must be enumerable in O(objects) LISTs, not
  * O(cells) existence probes — the precomputed DSv2 scan has had this
  * planner since r4; these specs pin the same strategy for the Volume
  * surface across precomputed, zarr v2 (dotted C-order keys), zarr v3
  * (nested `c/z/y/x`), and N5 (nested `x/y/z`): `presentChunks` issues one
  * bounded glob LIST per leading-coordinate column and ZERO probes, and
  * `missingChunks` auto-routes big-grid queries through the listing
  * anti-join while matching the probe plan's result exactly.
  *
  * Grid: 4×4×4 chunks over (68, 64, 64) = 17·16·16 = 4352 cells, just past
  * PrecomputedScan.ListingThreshold (4096), with only 3 chunks present —
  * the sparse shape where probing is pathological. */
class ListingModeSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private val Shape = (68, 64, 64)
  private val Chunk = (4, 4, 4)
  /** Chunk-aligned origins of the three present chunks (corner, middle,
    * far-corner edge chunk). */
  private val Origins = Seq((1, 1, 1), (29, 17, 33), (65, 61, 61))
  private val Coords = Set((1, 1, 1), (8, 5, 9), (17, 16, 16))
  private val FullBox = Box(1, Shape._1, 1, Shape._2, 1, Shape._3)

  private def ingestSparse(vol: Volume): Unit =
    Origins.foreach { o =>
      vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, Chunk._1, Chunk._2, Chunk._3, 1, o))
    }

  private def volumes: Seq[(String, Volume, Int)] = Seq(
    // (label, volume, leading-coordinate column count: x-led 17, z-led 16)
    ("precomputed", Volume.create(spark, SparkSuite.tempDir("graft-list-pre"),
      Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(Meta.ScaleMeta(
        "1_1_1", Chunk, "gzip", (1, 1, 1), Shape, (0, 0, 0))))), 17),
    ("zarr-c", graft.sources.Zarr.create(spark, SparkSuite.tempDir("graft-list-z2"),
      Shape, Chunk, Meta.TUInt8, "zlib"), 16),
    ("zarr3-c", graft.sources.Zarr3.create(spark, SparkSuite.tempDir("graft-list-z3"),
      Shape, Chunk, Meta.TUInt8, "gzip"), 16),
    ("n5", graft.sources.N5.create(spark, SparkSuite.tempDir("graft-list-n5"),
      Shape, Chunk, Meta.TUInt8, "gzip"), 17))

  test("presentChunks: bounded per-column LISTs, zero probes, exact coords — all formats") {
    volumes.foreach { case (label, vol, nColumns) =>
      ingestSparse(vol)
      assert(vol.numChunks(FullBox) == 4352L, label)
      val lists0 = ChunkStore.listCalls.get()
      val probes0 = ChunkStore.probeCalls.get()
      val present = vol.presentChunks(FullBox).collect().toSet
      assert(present == Coords, s"$label: $present")
      val lists = ChunkStore.listCalls.get() - lists0
      val probes = ChunkStore.probeCalls.get() - probes0
      assert(probes == 0, s"$label: listing enumeration must not probe ($probes)")
      assert(lists == nColumns, s"$label: one bounded LIST per leading column, got $lists")
    }
  }

  test("missingChunks auto-routes the sparse big grid through listing and matches probe mode") {
    volumes.foreach { case (label, vol, _) =>
      ingestSparse(vol)
      val probes0 = ChunkStore.probeCalls.get()
      val viaListing = vol.missingChunks(FullBox).collect().toSet // auto > threshold
      assert(ChunkStore.probeCalls.get() - probes0 == 0,
        s"$label: auto must pick listing above the threshold")
      assert(viaListing.size == 4352 - 3, label)
      val viaProbe = vol.missingChunks(FullBox, "probe").collect().toSet
      assert(ChunkStore.probeCalls.get() - probes0 >= 4352 - 3,
        s"$label: probe mode really probes")
      assert(viaListing == viaProbe, s"$label: modes disagree")
      // a SMALL query auto-routes to probe (listing pays LIST latency floor)
      val probes1 = ChunkStore.probeCalls.get()
      val small = vol.missingChunks(Box(1, 8, 1, 8, 1, 8)).collect()
      assert(ChunkStore.probeCalls.get() - probes1 > 0,
        s"$label: small grids keep the probe plan")
      assert(small.length == 8 - 1, s"$label: 2x2x2 cells minus the present corner")
    }
  }

  test("missingChunks auto decides from the cells a box far larger than the volume visits") {
    // 2^30 voxels a side on 4^3 chunks is 2^84 cells, which wraps the
    // unclipped product to 0; clipped to the volume it is the 4352 cells
    val (_, vol, _) = volumes.head
    ingestSparse(vol)
    val huge = Box(1, 1 << 30, 1, 1 << 30, 1, 1 << 30)
    val want = vol.missingChunks(FullBox).collect().toSet
    val probes0 = ChunkStore.probeCalls.get()
    assert(vol.missingChunks(huge).collect().toSet == want)
    assert(ChunkStore.probeCalls.get() - probes0 == 0, "auto must pick listing, as for the volume box")
  }

  test("parseRelKey is the inverse of relKey and rejects foreign objects") {
    volumes.foreach { case (label, vol, _) =>
      val c = vol.ctx
      val ids = Grid.idRanges(FullBox, c.chunkSize, c.voxelOffset)
      for (cx <- Seq(ids.lox, ids.hix); cy <- Seq(ids.loy, ids.hiy); cz <- Seq(ids.loz, ids.hiz)) {
        val slice = c.sliceAt(cx, cy, cz, FullBox).get
        assert(c.parseRelKey(c.relKey(slice)) == Some((cx, cy, cz)), s"$label ($cx,$cy,$cz)")
        assert(c.parseRelKey(c.relKey(slice) + ".gz") == Some((cx, cy, cz)), s"$label .gz")
      }
      Seq(".zarray", "zarr.json", "attributes.json", "info", "README", "c/x/y/notanum")
        .foreach(k => assert(c.parseRelKey(k).isEmpty, s"$label: $k"))
    }
  }

  test("sharded stores refuse listing enumeration (the shard index is the listing)") {
    val vol = graft.sources.Zarr3.createSharded(spark,
      SparkSuite.tempDir("graft-list-shard"), shape = (16, 8, 4),
      shardShape = (8, 8, 4), innerChunks = (4, 4, 2), dataType = Meta.TUInt8)
    intercept[IllegalArgumentException](vol.presentChunks(FullBox))
    // missing-chunk planning on sharded stores stays on the index-probe path:
    // 4x2x2 = 16 inner cells, the ingested (8,8,4) shard covers 2x2x2 = 8
    vol.ingest(VoxelBuffer.sequenced(Meta.TUInt8, 8, 8, 4, 1, (1, 1, 1)))
    assert(vol.missingChunks(Box(1, 16, 1, 8, 1, 4)).count() == 8)
  }
}
