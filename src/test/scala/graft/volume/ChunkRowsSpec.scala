package graft.volume

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Meta
import graft.core.Grid.Box
import graft.ops.ArrayOps
import graft.testutil.SparkSuite

/** The behaviour every per-chunk DataFrame operator shares through
  * `Volume.chunkRows`: which cells become tasks, what a box past the volume
  * reads, and how a missing chunk surfaces. Each operator's output is
  * checked against a driver-side model built from a `cutout` of the same
  * box (zeros outside the volume and in missing chunks). */
class ChunkRowsSpec extends AnyFunSuite {

  lazy val spark = SparkSuite.spark

  // 48 x 48 x 12 on a 16 x 16 x 4 grid: the volume ends on a chunk seam on
  // every axis, so a cell past the volume has the same id in the engine
  // and in the model
  val vol3 = Box(1, 48, 1, 48, 1, 12)

  def grid(dt: Meta.VoxelType, w: Int, h: Int, d: Int): Meta.VolumeMeta =
    Meta.VolumeMeta("segmentation", dt, 1, Vector(
      Meta.ScaleMeta("1_1_1", (16, 16, 4), "gzip", (1, 1, 1), (w, h, d), (0, 0, 0))))

  /** A volume holding `value` at every voxel of `b`. */
  def volumeOf(name: String, dt: Meta.VoxelType, b: Box)(value: (Int, Int, Int) => Long): Volume = {
    val vol = Volume.create(spark, SparkSuite.tempDir(s"graft-rows-$name"), grid(dt, b.x.hi, b.y.hi, b.z.hi))
    val buf = VoxelBuffer.zeros(dt, b.x.len, b.y.len, b.z.len, 1, (1, 1, 1))
    for (z <- 1 to b.z.hi; y <- 1 to b.y.hi; x <- 1 to b.x.hi) buf.setLong(x - 1, y - 1, z - 1, 0, value(x, y, z))
    vol.ingest(buf)
    vol
  }

  def hash(x: Int, y: Int, z: Int, salt: Int): Int =
    scala.util.hashing.MurmurHash3.productHash((x, y, z, salt)) & 0xffff

  /** Labels 1..4 on ~85 % of voxels: dense enough that erosion survives and
    * seams are crossed in every direction, with background for dilation to
    * grow into and label pairs for contacts. */
  def labels(x: Int, y: Int, z: Int): Long = {
    val h = hash(x, y, z, 7)
    if (h < 56000) 1L + h % 4 else 0L
  }

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  def sorted(rs: Seq[Row]): Seq[String] = rs.map(_.toString).sorted

  /** Fails naming the operator and the first difference, not every row. */
  def same(name: String, got: Any, want: Any): Unit = (got, want) match {
    case (g: Seq[_], w: Seq[_]) => if (g != w) fail(s"$name: ${g.length} rows, want ${w.length}; " +
      s"first difference ${g.zipAll(w, "-", "-").find { case (a, b) => a != b }}")
    case _ => assert(got == want, name)
  }

  def neighbours(p: (Int, Int, Int)): Seq[(Int, Int, Int)] = {
    val (x, y, z) = p
    Seq((x - 1, y, z), (x + 1, y, z), (x, y - 1, z), (x, y + 1, z), (x, y, z - 1), (x, y, z + 1))
  }

  def in(b: Box, p: (Int, Int, Int)): Boolean = b.x.contains(p._1) && b.y.contains(p._2) && b.z.contains(p._3)

  def cell(p: (Int, Int, Int)): (Long, Long, Long) =
    (Math.floorDiv(p._1 - 1, 16) + 1L, Math.floorDiv(p._2 - 1, 16) + 1L, Math.floorDiv(p._3 - 1, 4) + 1L)

  def perCell(s: Iterable[(Int, Int, Int)]): Map[(Long, Long, Long), Long] =
    s.groupBy(cell).map { case (k, v) => k -> v.size.toLong }

  /** Every operator on the combinator, each reduced to a comparable value. */
  def operators(vol: Volume, other: Volume, q: Box): Seq[(String, () => Any)] = Seq(
    "toVoxels" -> (() => sorted(rows(vol.toVoxels(q)))),
    "zipVoxels" -> (() => sorted(rows(vol.zipVoxels(other, q)))),
    "localComponents" -> (() => sorted(rows(ArrayOps.componentStats(vol.localComponents(q))))),
    "localDilate" -> (() => sorted(rows(ArrayOps.dilateStats(vol.localDilate(q))))),
    "localErode" -> (() => sorted(rows(ArrayOps.erodeStats(vol.localErode(q))))),
    "localOpen" -> (() => sorted(rows(ArrayOps.openStats(vol.localOpen(q))))),
    "chunkStats" -> (() => sorted(rows(vol.chunkStats(q)))),
    "toVoxelsAtLeast" -> (() => sorted(rows(vol.toVoxelsAtLeast(q, 3L)))),
    "localBlur" -> (() => ArrayOps.blurStats(vol.localBlur(q)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap),
    "localContacts" -> (() => sorted(rows(ArrayOps.contactStats(vol.localContacts(q))))),
    "missingChunks probe" -> (() => vol.missingChunks(q, "probe").collect().toSeq.sorted),
    "missingChunks listing" -> (() => vol.missingChunks(q, "listing").collect().toSeq.sorted))

  /** The volume, a u16 partner on its grid for `zipVoxels`, and the key of
    * the one chunk deleted from the volume. */
  lazy val (vol, other, deleted) = {
    val v = volumeOf("labels", Meta.TUInt8, vol3)(labels)
    val o = volumeOf("partner", Meta.TUInt16, vol3)((x, y, z) => hash(x, y, z, 11).toLong)
    val key = "16-32_16-32_4-8"
    assert(new java.io.File(v.root, s"1_1_1/$key").delete())
    (v, o, key)
  }

  test("a box far larger than the volume reads like the volume box (no id-count overflow)") {
    // 2^30 voxels a side is 2^26 x 2^26 x 2^28 cells = 2^80, which wraps a
    // Long to 0; clipped to the volume it is 3 x 3 x 3. Nothing lies on the
    // volume's upper faces, so dilation has nowhere past them to grow.
    val v = volumeOf("huge", Meta.TUInt8, vol3)((x, y, z) =>
      if (x == 48 || y == 48 || z == 12) 0L else labels(x, y, z))
    val huge = Box(1, 1 << 30, 1, 1 << 30, 1, 1 << 30)
    for ((name, op) <- Seq[(String, Box => DataFrame)](
        "toVoxels" -> v.toVoxels, "chunkStats" -> v.chunkStats, "localDilate" -> v.localDilate)) {
      val want = sorted(rows(op(vol3)))
      assert(want.nonEmpty, name)
      same(name, sorted(rows(op(huge))), want)
    }
  }

  test("every chunk-row operator over a box straddling the volume's upper edge equals a cutout model") {
    val q = Box(5, 60, 7, 55, 2, 15)
    val qv = q.intersect(vol3)
    val a = vol.cutout(q); val b = other.cutout(q)
    def va(p: (Int, Int, Int)): Long = if (in(q, p)) a.getLong(p._1 - 5, p._2 - 7, p._3 - 2) else 0L
    def vb(p: (Int, Int, Int)): Long = b.getLong(p._1 - 5, p._2 - 7, p._3 - 2)
    val inVol = for (z <- qv.z.lo to qv.z.hi; y <- qv.y.lo to qv.y.hi; x <- qv.x.lo to qv.x.hi) yield (x, y, z)
    val inQ = for (z <- q.z.lo to q.z.hi; y <- q.y.lo to q.y.hi; x <- q.x.lo to q.x.hi) yield (x, y, z)
    val fg = inQ.filter(va(_) != 0L).toSet
    val ero = fg.filter(p => neighbours(p).forall(n => in(q, n) && fg(n)))
    val dil = fg.flatMap(p => p +: neighbours(p)).filter(in(q, _))
    val opened = ero.flatMap(p => p +: neighbours(p))
    def pair(n: Long, m: Long): (Long, Long) = (math.min(n, m), math.max(n, m))
    val components = {
      val seen = scala.collection.mutable.Set.empty[(Int, Int, Int)]
      fg.toSeq.sorted.flatMap { p0 =>
        if (seen(p0)) None else {
          val comp = scala.collection.mutable.ArrayBuffer(p0); seen += p0
          var i = 0
          while (i < comp.length) {
            for (n <- neighbours(comp(i)) if fg(n) && !seen(n)) { seen += n; comp += n }
            i += 1
          }
          val lin = comp.map { case (x, y, z) => (z.toLong << 40) | (y.toLong << 20) | x.toLong }.min
          Some(Row(lin, comp.size.toLong, comp.map(_._1).min, comp.map(_._1).max,
            comp.map(_._2).min, comp.map(_._2).max, comp.map(_._3).min, comp.map(_._3).max))
        }
      }
    }
    def counts(m: Map[(Long, Long, Long), (Long, Long)]): Seq[String] =
      sorted(m.toSeq.map { case ((x, y, z), (n, k)) => Row(x, y, z, n, k) })
    def both(s: Iterable[(Int, Int, Int)]): Map[(Long, Long, Long), (Long, Long)] = {
      val (f, o) = (perCell(fg), perCell(s))
      (f.keySet ++ o.keySet).map(k => k -> (f.getOrElse(k, 0L), o.getOrElse(k, 0L))).toMap
    }
    val want: Map[String, Any] = Map(
      "toVoxels" -> sorted(inVol.map(p => Row(p._1, p._2, p._3, 0, va(p).toShort))),
      "zipVoxels" -> sorted(inVol.map(p => Row(p._1, p._2, p._3, va(p).toShort, vb(p).toInt))),
      "localComponents" -> sorted(components),
      "localDilate" -> counts(both(dil)),
      "localErode" -> counts(perCell(fg).map { case (k, n) => k -> (n, perCell(ero).getOrElse(k, 0L)) }),
      "localOpen" -> counts(both(opened)),
      "chunkStats" -> sorted(inVol.groupBy(cell).toSeq.map { case ((x, y, z), ps) =>
        Row(x.toInt, y.toInt, z.toInt, ps.map(va).min, ps.map(va).max, ps.size.toLong) }),
      "toVoxelsAtLeast" -> sorted(inVol.filter(va(_) >= 3L).map(p => Row(p._1, p._2, p._3, 0, va(p).toShort))),
      "localBlur" -> inVol.groupBy(_._3).map { case (z, ps) =>
        z -> (ps.size.toLong, ps.map { p =>
          val ns = neighbours(p).filter(in(q, _))
          Math.floorDiv(va(p) + ns.map(va).sum, 1L + ns.size)
        }.sum)
      },
      "localContacts" -> sorted(inQ.flatMap { case p @ (x, y, z) =>
        Seq((x + 1, y, z), (x, y + 1, z), (x, y, z + 1))
          .filter(n => in(q, n) && va(p) != 0L && va(n) != 0L && va(p) != va(n)).map(n => pair(va(p), va(n)))
      }.groupBy(identity).toSeq.map { case ((l, m), ps) => Row(l, m, ps.size.toLong) }),
      "missingChunks probe" -> Seq(deleted),
      "missingChunks listing" -> Seq(deleted))
    assert(ero.nonEmpty && dil.size > fg.size && opened.size < fg.size, "model degenerate")
    for ((name, op) <- operators(vol, other, q)) same(name, op(), want(name))
  }

  test("every chunk-row operator over a box wholly outside the volume yields nothing") {
    val q = Box(60, 70, 1, 48, 1, 12)
    for ((name, op) <- operators(vol, other, q)) {
      val got = op()
      assert(got == Nil || got == Map.empty, s"$name: $got")
    }
  }

  test("every chunk-row operator on a strict handle raises MissingChunkException for a deleted chunk") {
    val strict = new Volume(spark, vol.root, vol.meta, 1, fillMissing = false)
    for ((name, op) <- operators(strict, other, vol3) if !name.startsWith("missingChunks")) {
      val e = intercept[org.apache.spark.SparkException](op())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ChunkStore.MissingChunkException]), s"$name: $e")
    }
  }
}
