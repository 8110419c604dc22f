package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.SparkSuite
import graft.volume.{Volume, VoxelBuffer}

class VoxelScanSpec extends AnyFunSuite {
  lazy val spark = { val s = SparkSuite.spark; GraftExtensions.install(s); s }

  def newVolume(): (Volume, VoxelBuffer) = {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("6_6_30", (100, 100, 5), "gzip", (6, 6, 30), (510, 510, 2022), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-vscan"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 200, 200, 10, 1, (1, 1, 1))
    vol.ingest(buf)
    (vol, buf)
  }

  /** (Σ value, count) over `b` of the volume `newVolume` builds: `buf`
    * where it lies, zero elsewhere. */
  def model(buf: VoxelBuffer, b: Box): (Long, Long) = {
    var s = 0L
    for (z <- b.z.lo to b.z.hi; y <- b.y.lo to b.y.hi; x <- b.x.lo to b.x.hi
        if buf.box.x.contains(x) && buf.box.y.contains(y) && buf.box.z.contains(z))
      s += buf.getLong(x - 1, y - 1, z - 1)
    (s, b.numVoxels)
  }

  def sumCount(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.agg(sum("value"), count(lit(1))).collect().head
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  test("voxels() filter results match toVoxels on the same box") {
    val (vol, buf) = newVolume()
    val b = Box(57, 123, 90, 110, 3, 8)
    val viaScan = sumCount(vol.voxels()
      .filter(col("x").between(57, 123) && col("y").between(90, 110) && col("z").between(3, 8)))
    assert(viaScan == model(buf, b))
    assert(sumCount(vol.toVoxels(b)) == model(buf, b))
  }

  test("scan executes columnar: ColumnarToRow sits above VoxelScanExec") {
    val (vol, buf) = newVolume()
    val df = vol.voxels().filter(col("z") === 1)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("ColumnarToRow"), s"expected columnar transition in:\n$physical")
    assert(physical.contains("VoxelScanExec"), physical)
    val plane = Box(1, 510, 1, 510, 1, 1)
    assert(sumCount(df) == model(buf, plane))
    assert(sumCount(vol.toVoxels(plane)) == model(buf, plane))
  }

  test("range conjuncts leave the plan: a voxel aggregate over a new box compiles no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (vol, buf) = newVolume()
    def viaScan(b: Box) = vol.voxels().filter(col("x").between(b.x.lo, b.x.hi) &&
      col("y").between(b.y.lo, b.y.hi) && col("z").between(b.z.lo, b.z.hi))
    def compiles(f: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      f
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val warm = Box(11, 60, 21, 90, 2, 7)
    assert(sumCount(viaScan(warm)) == model(buf, warm))
    assert(sumCount(vol.toVoxels(warm)) == model(buf, warm))
    val fresh = Box(33, 141, 17, 188, 4, 9)
    assert(compiles(assert(sumCount(viaScan(fresh)) == model(buf, fresh))) == 0)
    assert(compiles(assert(sumCount(vol.toVoxels(fresh)) == model(buf, fresh))) == 0)
    assert(!viaScan(fresh).queryExecution.optimizedPlan.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Filter]))
  }

  test("range bounds at the Int limits give an empty box, never a wrapped one") {
    val (vol, _) = newVolume()
    for (cond <- Seq(col("x") > Int.MaxValue, col("x") < Int.MinValue,
        lit(Int.MaxValue) < col("y"), lit(Int.MinValue) > col("z"),
        col("x") >= 5 && col("x") > Int.MaxValue, col("x") === 7 && col("x") === 9))
      assert(vol.voxels().filter(cond).count() == 0, cond)
  }

  test("a range conjunct beside a non-range conjunct equals the model") {
    val (vol, buf) = newVolume()
    val b = Box(150, 230, 1, 40, 6, 12)
    val inBox = for (z <- b.z.lo to b.z.hi; y <- b.y.lo to b.y.hi; x <- b.x.lo to b.x.hi)
      yield if (x <= 200 && z <= 10) buf.getLong(x - 1, y - 1, z - 1) else 0L
    def between(df: org.apache.spark.sql.DataFrame) = df.filter(col("x").between(b.x.lo, b.x.hi) &&
      col("y").between(b.y.lo, b.y.hi) && col("z").between(b.z.lo, b.z.hi))
    val above = between(vol.voxels().filter(col("value") > 3))
    assert(sumCount(above) == ((inBox.filter(_ > 3).sum, inBox.count(_ > 3).toLong)))
    assert(above.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.references.toSeq.map(_.name)
    } == Seq(Seq("value")))
    assert(sumCount(between(vol.voxels()).filter(col("c") === 0)) == ((inBox.sum, inBox.length.toLong)))
  }

  test("a voxels() join plans with the scan's statistics and equals a driver-side model") {
    val (vol, buf) = newVolume()
    val weights = Seq(1 -> 2L, 7 -> 3L, 7 -> 5L, 150 -> 1L, 205 -> 4L, 600 -> 9L)
    val other = spark.createDataFrame(weights).toDF("x2", "w")
    val r = vol.voxels().filter(col("z") <= 8 && col("y") <= 120)
      .join(other, col("x") === col("x2"))
      .agg(sum(col("value") * col("w")), count(lit(1))).collect().head
    var s = 0L; var n = 0L
    for ((x, w) <- weights if x <= 510; z <- 1 to 8; y <- 1 to 120) {
      n += 1
      if (x <= 200) s += buf.getLong(x - 1, y - 1, z - 1) * w
    }
    assert((r.getLong(0), r.getLong(1)) == ((s, n)))
  }

  test("a large toVoxels joined to a larger relation never broadcasts the scan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // 128^3 voxels, nothing ingested: planning reads no chunk
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
      Meta.ScaleMeta("1_1_1", (64, 64, 64), "gzip", (1, 1, 1), (128, 128, 128), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-vscan-stats"), meta)
    val vox = vol.toVoxels(Box(1, 128, 1, 128, 1, 128))
    val stats = vox.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(128 * 128 * 128)))
    val larger = spark.range(0L, 1L << 23).select(col("id").cast("int").as("k"))
    val plan = vox.join(larger, col("x") === col("k")).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case v: VoxelScanExec => v }.length == 1, plan)
    assert(plan.collect { case b: BroadcastExchangeExec => b }
      .forall(_.collect { case v: VoxelScanExec => v }.isEmpty), plan)
  }

  test("contradictory filters short-circuit to an empty scan") {
    val (vol, _) = newVolume()
    // x >= 100 AND x <= 1 narrows the box to a negative-length interval;
    // the physical scan must treat it as empty, not a garbage id space
    assert(vol.voxels().filter(col("x") >= 100 && col("x") <= 1).count() == 0)
    assert(vol.numChunks(Box(100, 1, 1, 10, 1, 10)) == 0)
    assert(vol.toVoxels(Box(100, 1, 1, 10, 1, 10)).count() == 0)
    val empty = vol.cutout(Box(100, 1, 1, 10, 1, 10))
    assert(empty.sx == 0 && empty.sy == 0 && empty.sz == 0)
  }

  test("PushBoxFilters narrows the scan box in the optimized plan") {
    val (vol, _) = newVolume()
    val df = vol.voxels().filter(col("x") >= 101 && col("x") <= 150 && col("z") < 6)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("box=[101..150, 1..510, 1..5]"), optimized)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("VoxelScanExec"), physical)
  }

  test("narrowed box reads only intersecting chunks (pruned I/O)") {
    val (vol, buf) = newVolume()
    // destroy chunks outside x<=100: a pruned scan must not touch them
    for (k <- Seq("100-200_0-100_0-5", "100-200_0-100_5-10", "100-200_100-200_0-5", "100-200_100-200_5-10"))
      assert(new java.io.File(vol.root, s"6_6_30/$k").delete())
    val strict = new Volume(spark, vol.root, vol.meta, 1, fillMissing = false)
    // strict mode: touching any deleted (x>100) chunk would throw, so a
    // successful count proves the box narrowing pruned them out
    val n = strict.voxels()
      .filter(col("x") <= 100 && col("y") <= 200 && col("z") <= 10).count()
    assert(n == 100L * 200 * 10)
  }

  test("unfilterable predicates still evaluate correctly as residuals") {
    val (vol, buf) = newVolume()
    val n = vol.voxels()
      .filter(col("x").between(1, 10) && col("y").between(1, 10) && col("z") === 1 && col("value") > 128)
      .count()
    var expect = 0L
    for (x <- 0 until 10; y <- 0 until 10) if (buf.getLong(x, y, 0) > 128) expect += 1
    assert(n == expect)
  }

  test("aggregation composes over the custom scan") {
    val (vol, buf) = newVolume()
    val rows = vol.voxels().filter(col("x").between(1, 100) && col("y").between(1, 100) && col("z").between(1, 5))
      .groupBy(col("z")).agg(count(lit(1)).as("n")).orderBy(col("z")).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(1) == 100L * 100))
  }

  test("column pruning: coords-only scans never touch the store under zero-fill") {
    val (vol, _) = newVolume()
    // delete EVERY chunk: a pruned count must still succeed (no blob fetch)
    val dir = new java.io.File(vol.root, "6_6_30")
    dir.listFiles().foreach(f => assert(f.delete()))
    val n = vol.voxels()
      .filter(col("x").between(1, 200) && col("y").between(1, 200) && col("z").between(1, 10))
      .select(col("x"), col("y"), col("z"))
      .count()
    assert(n == 200L * 200 * 10)
    // strict mode still raises (fetch not skipped)
    val strict = new Volume(spark, vol.root, vol.meta, 1, fillMissing = false)
    assertThrows[org.apache.spark.SparkException] {
      strict.voxels().filter(col("x").between(1, 10) && col("y").between(1, 10) && col("z") === 1)
        .select(col("x")).count()
    }
  }

  test("u64 values scan exactly through both Decimal branches (high bit set and clear)") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt64, 1, Vector(
      Meta.ScaleMeta("1_1_1", (4, 4, 2), "gzip", (1, 1, 1), (4, 4, 2), (0, 0, 0))))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-u64scan"), meta)
    val buf = new graft.volume.VoxelBuffer(Meta.TUInt64, 4, 4, 2, 1, (1, 1, 1),
      new Array[Byte](4 * 4 * 2 * 8))
    // x odd → value above 2^63 (unsigned top half), x even → small
    for (z <- 0 until 2; y <- 0 until 4; x <- 0 until 4)
      buf.setLong(x, y, z, 0, if (x % 2 == 1) java.lang.Long.MIN_VALUE + x + y else (x + 10L * y))
    vol.ingest(buf)
    val rows = vol.voxels().collect()
    assert(rows.length == 4 * 4 * 2)
    rows.foreach { r =>
      val (x, y) = (r.getInt(0), r.getInt(1))
      val got = r.getDecimal(4)
      val expected = if ((x - 1) % 2 == 1)
        new java.math.BigDecimal(new java.math.BigInteger(
          java.lang.Long.toUnsignedString(java.lang.Long.MIN_VALUE + (x - 1) + (y - 1))))
      else new java.math.BigDecimal((x - 1) + 10L * (y - 1))
      assert(got.compareTo(expected) == 0, s"($x,$y): $got != $expected")
    }
  }

  test("the row path is the columnar path projected to rows") {
    import scala.jdk.CollectionConverters._
    /** The planned scan's rows through `execute()` and through
      * `executeColumnar()`, each row as comparable values. */
    def bothPaths(df: org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val scan = df.queryExecution.executedPlan.collectFirst { case v: VoxelScanExec => v }.get
      val types = scan.output.map(_.dataType)
      val values = (r: org.apache.spark.sql.catalyst.InternalRow) =>
        r.toSeq(types).map { case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal; case v => v }
      (scan.execute().map(values).collect().toSeq,
        scan.executeColumnar().flatMap(_.rowIterator().asScala.map(values)).collect().toSeq)
    }
    // u64 with the high bit set and clear
    val meta = Meta.VolumeMeta("image", Meta.TUInt64, 1, Vector(
      Meta.ScaleMeta("1_1_1", (4, 4, 2), "gzip", (1, 1, 1), (8, 4, 2), (0, 0, 0))))
    val u64 = Volume.create(spark, SparkSuite.tempDir("graft-rowpath"), meta)
    val buf = VoxelBuffer.zeros(Meta.TUInt64, 8, 4, 2, 1, (1, 1, 1))
    for (z <- 0 until 2; y <- 0 until 4; x <- 0 until 8)
      buf.setLong(x, y, z, 0, if (x % 2 == 1) java.lang.Long.MIN_VALUE + x + y else x + 10L * y)
    u64.ingest(buf)
    val (rows, cols) = bothPaths(u64.voxels())
    assert(rows.length == 8 * 4 * 2 && rows == cols)
    val top = new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63))
    val u = rows.map(_(4).asInstanceOf[java.math.BigDecimal])
    assert(u.exists(_.compareTo(top) >= 0) && u.exists(v => v.signum > 0 && v.compareTo(top) < 0))
    // a coords-only projection
    val (coords, coordCols) = bothPaths(u64.voxels().select(col("x"), col("z")))
    assert(coords.length == 8 * 4 * 2 && coords == coordCols && coords.head.length == 2)
    // a zero-filled missing chunk: the second x chunk reads zero on both paths
    assert(new java.io.File(u64.root, "1_1_1/4-8_0-4_0-2").delete())
    val (filled, filledCols) = bothPaths(u64.voxels())
    assert(filled == filledCols)
    assert(filled.filter(_(0).asInstanceOf[Int] > 4).forall(_(4).asInstanceOf[java.math.BigDecimal].signum == 0))
    assert(filled.filter(_(0).asInstanceOf[Int] <= 4).exists(_(4).asInstanceOf[java.math.BigDecimal].signum != 0))
  }

  test("SQL metrics account fetched chunks, bytes, and output rows") {
    val (vol, _) = newVolume()
    def runAndMetrics(df: org.apache.spark.sql.DataFrame): Map[String, Long] = {
      // collect() executes df's OWN QueryExecution (a write would plan a
      // fresh one and leave these metrics untouched)
      df.collect()
      val execs = df.queryExecution.executedPlan.collect { case v: VoxelScanExec => v }
      assert(execs.length == 1, df.queryExecution.executedPlan.toString)
      execs.head.metrics.map { case (k, m) => k -> m.value }
    }
    // value scan over one full chunk: exactly 1 object fetched, bytes > 0
    val m1 = runAndMetrics(vol.voxels()
      .filter(col("x").between(1, 100) && col("y").between(1, 100) && col("z").between(1, 5)))
    assert(m1("numOutputRows") == 100L * 100 * 5)
    assert(m1("chunksFetched") == 1)
    assert(m1("chunksMissing") == 0)
    assert(m1("bytesFetched") > 0)
    // coords-only scan: zero I/O, full row count (the pruning is observable)
    val m2 = runAndMetrics(vol.voxels()
      .filter(col("x").between(1, 200) && col("y").between(1, 200) && col("z").between(1, 10))
      .select(col("x"), col("y"), col("z")))
    assert(m2("numOutputRows") == 200L * 200 * 10)
    assert(m2("chunksFetched") == 0)
    assert(m2("bytesFetched") == 0)
  }
}
