package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.core.{Grid, Meta}
import graft.core.Grid.Box
import graft.testutil.SparkSuite
import graft.volume.{Volume, VoxelBuffer}

class FunctionsSpec extends AnyFunSuite with graft.testutil.MiniProp {
  lazy val spark = SparkSuite.spark

  test("chunk_id matches Grid math incl. negatives, SQL-callable") {
    ChunkExprs.register(spark)
    val rows = spark.sql(
      "SELECT chunk_id(x, 100, -300) AS id FROM VALUES (-299), (1), (100), (101), (-300) t(x)")
      .collect().map(_.getInt(0))
    val want = Seq(-299, 1, 100, 101, -300).map(x => Grid.chunkIdOf(x, 100, Grid.gridOffset(-300, 100)))
    assert(rows.toSeq == want)
  }

  test("chunk_id participates in whole-stage codegen") {
    ChunkExprs.register(spark)
    val df = spark.range(10).selectExpr("chunk_id(cast(id as int), 4, 0) AS c")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // '*' marks whole-stage-codegen stages
    assert(df.collect().map(_.getInt(0)).toSeq == (0 until 10).map(i => Grid.chunkIdOf(i, 4, 0)))
  }

  test("chunk_key golden vector (reference test/Indexes.jl:5-10)") {
    ChunkExprs.register(spark)
    // chunk covering [2969..3480, 1777..2288, 16913..17424]: size 512 with the
    // grid aligned to the reference golden's offsets (floorMod-normalized)
    val key = spark.sql(
      "SELECT chunk_key(chunk_id(2969, 512, 2968), chunk_id(1777, 512, 1776), chunk_id(16913, 512, 16912), " +
        "512, 512, 512, 2968, 1776, 16912)")
      .collect().head.getString(0)
    assert(key == "2968-3480_1776-2288_16912-17424")
  }

  test("chunk_key_parse inverts chunk_key") {
    ChunkExprs.register(spark)
    val r = spark.sql("SELECT chunk_key_parse('2968-3480_1776-2288_16912-17424') AS b")
      .selectExpr("b.x0", "b.x1", "b.z1").collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == (2969, 3480, 17424))
    assert(spark.sql("SELECT chunk_key_parse('garbage')").collect().head.isNullAt(0))
  }

  test("vec_dot / vec_cosine match manual double math and are codegen'd") {
    VectorExprs.register(spark)
    val df = spark.sql(
      "SELECT vec_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d, " +
        "vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
    val r = df.collect().head
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan) // '*' marks whole-stage-codegen stages
  }

  test("vec kernels: null elements null the result, like zip_with; bad types fail analysis") {
    VectorExprs.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS d, " +
        "vec_cosine(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
    // matches the HOF formulation exactly (null product poisons the sum)
    val hof = spark.sql(
      "SELECT aggregate(zip_with(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D), " +
        "(x, y) -> x * y), 0.0D, (a, v) -> a + v)").collect().head
    assert(hof.isNullAt(0))
    // non-array / non-float arguments are an analysis error, not a runtime CCE
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT vec_dot(array('a', 'b'), array('c', 'd'))").collect())
    assert(e.getMessage.contains("array<float>, array<double> or array<tinyint>"), e.getMessage)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT vec_cosine(1, 2)").collect())
  }

  test("explode_chunk is SQL-registered: LATERAL VIEW over a chunk table") {
    ChunkExprs.register(spark)
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(graft.ops.ArrayOps.demoScale))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-gen-sql"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 8, 1, (1, 1, 1))
    vol.ingest(buf)
    spark.read.format("precomputed").load(vol.root).createOrReplaceTempView("gen_chunks")
    val voxels = spark.sql(
      """SELECT g.x, g.y, g.z, g.c, g.value
        |FROM gen_chunks
        |LATERAL VIEW explode_chunk(blob, x0, y0, z0,
        |  x1 - x0 + 1, y1 - y0 + 1, z1 - z0 + 1, 'uint8', 1, 'gzip') g""".stripMargin)
    assert(voxels.count() == 64L * 64 * 8)
    val viaSql = voxels.agg(sum("value")).collect().head.getLong(0)
    val viaVolume = vol.toVoxels(Box(1, 64, 1, 64, 1, 8))
      .agg(sum("value")).collect().head.getLong(0)
    assert(viaSql == viaVolume)
    // non-literal dtype is rejected loudly (the schema must bind at analysis)
    val err = intercept[Exception](spark.sql(
      "SELECT g.* FROM gen_chunks LATERAL VIEW explode_chunk(blob, x0, y0, z0, 1, 1, 1, key, 1, 'gzip') g"))
    assert(err.getMessage.contains("literal"), err.getMessage)
  }

  test("explode_chunk generator unpacks a chunk blob to the exact voxel rows") {
    val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(graft.ops.ArrayOps.demoScale))
    val vol = Volume.create(spark, SparkSuite.tempDir("graft-gen"), meta)
    val buf = VoxelBuffer.sequenced(Meta.TUInt8, 64, 64, 8, 1, (1, 1, 1))
    vol.ingest(buf)
    import org.apache.spark.sql.graftshim.shim.{toColumn, toExpression}
    val chunks = spark.read.format("precomputed").load(vol.root)
    val gen = toColumn(ChunkExprs.ExplodeChunk(
      Seq(col("blob"), col("x0"), col("y0"), col("z0"),
        col("x1") - col("x0") + lit(1), col("y1") - col("y0") + lit(1),
        col("z1") - col("z0") + lit(1)).map(toExpression),
      "uint8", 1, "gzip"))
    val voxels = chunks.select(gen.as(Seq("x", "y", "z", "c", "value")))
    assert(voxels.count() == 64L * 64 * 8)
    val viaGen = voxels.agg(sum("value")).collect().head.getLong(0)
    val viaVolume = vol.toVoxels(Box(1, 64, 1, 64, 1, 8))
      .agg(sum("value")).collect().head.getLong(0)
    assert(viaGen == viaVolume)
    val one = voxels.filter("x = 17 and y = 23 and z = 3 and c = 0").collect().head
    assert(one.getShort(4).toLong == buf.getLong(16, 22, 2))
  }

  test("zorder_key: goldens, bit-by-bit reference, codegen path, SQL-callable") {
    import graft.functions.ZOrderExpr
    // hand goldens: unit vectors and the all-ones 2-bit cube
    assert(ZOrderExpr.interleave3(0, 0, 0) == 0L)
    assert(ZOrderExpr.interleave3(1, 0, 0) == 1L)
    assert(ZOrderExpr.interleave3(0, 1, 0) == 2L)
    assert(ZOrderExpr.interleave3(0, 0, 1) == 4L)
    assert(ZOrderExpr.interleave3(3, 3, 3) == 63L)
    assert(ZOrderExpr.interleave3(1, 2, 4) == (1L | (8L << 1) | (64L << 2)))
    // bit-by-bit reference over random in-domain coordinates
    def slowInterleave(x: Int, y: Int, z: Int): Long =
      (0 until 21).foldLeft(0L) { (acc, b) =>
        acc |
          (((x.toLong >> b) & 1L) << (3 * b)) |
          (((y.toLong >> b) & 1L) << (3 * b + 1)) |
          (((z.toLong >> b) & 1L) << (3 * b + 2))
      }
    val rnd = new scala.util.Random(3)
    (0 until 200).foreach { _ =>
      val (x, y, z) = (rnd.nextInt(1 << 21), rnd.nextInt(1 << 21), rnd.nextInt(1 << 21))
      assert(ZOrderExpr.interleave3(x, y, z) == slowInterleave(x, y, z), s"($x,$y,$z)")
    }
    // codegen path through a DataFrame agrees with eval, and SQL resolves
    import spark.implicits._
    val df = (0 until 100).map(i => (i * 37 % 1000, i * 91 % 1000, i * 13 % 1000))
      .toDF("x", "y", "z")
    val viaExpr = df.select(ZOrderExpr.zorder_key(col("x"), col("y"), col("z"))).as[Long].collect()
    df.createOrReplaceTempView("zin")
    graft.plans.GraftExtensions.install(spark)
    val viaSql = spark.sql("SELECT zorder_key(x, y, z) FROM zin").as[Long].collect()
    val expected = (0 until 100)
      .map(i => ZOrderExpr.interleave3(i * 37 % 1000, i * 91 % 1000, i * 13 % 1000))
    assert(viaExpr.toSeq == expected)
    assert(viaSql.toSeq == expected)
    // z-order locality: sorting the demo grid by zkey keeps axis jumps local
    // (consecutive keys differ by ≤1 chunk in ≥2 of 3 axes for a 2^k cube)
    val cube = for { x <- 0 until 8; y <- 0 until 8; z <- 0 until 8 } yield (x, y, z)
    val sortedCells = cube.sortBy { case (x, y, z) => ZOrderExpr.interleave3(x, y, z) }
    val jumps = sortedCells.sliding(2).map { case Seq((ax, ay, az), (bx, by, bz)) =>
      math.abs(ax - bx) + math.abs(ay - by) + math.abs(az - bz)
    }.toSeq
    assert(jumps.count(_ == 1) > jumps.length / 2, "z-curve should mostly step to a neighbor cell")
  }

  test("nfkc: compat folding, composition, pass-through; codegen'd and SQL-callable") {
    import spark.implicits._
    NfkcExpr.register(spark)
    // every CompatChars source maps to its documented image
    graft.ops.TextOps.CompatChars.foreach { case (src, img) =>
      assert(java.text.Normalizer.normalize(src, java.text.Normalizer.Form.NFKC) == img,
        s"CompatChars table stale for ${src.codePoints().toArray.toSeq}")
    }
    val df = graft.ops.TextOps.CompatChars.map(_._1).toDF("s")
      .select(NfkcExpr.nfkc(col("s")).as("kc"))
    assert(df.as[String].collect().toSeq == graft.ops.TextOps.CompatChars.map(_._2))
    // codegen probe needs a non-local child — a local Seq folds to
    // LocalTableScan via ConvertToLocalRelation, which never codegens
    // NOTE Spark's chr() is mod-256 ASCII (DuckDB's is codepoint) — embed
    // the exact codepoints as UTF-8 literals instead
    // fallback=false turns a broken doGenCode into a hard error instead of
    // a silent interpreted downgrade (plan strings are built BEFORE janino
    // compiles, so the *(1) check alone can't catch it)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val cg = spark.range(3).selectExpr("nfkc('é' || cast(id AS string)) AS kc")
      assert(cg.queryExecution.executedPlan.toString.contains("*(1)"),
        "nfkc fell out of whole-stage codegen")
      assert(cg.as[String].collect().toSeq == (0 until 3).map(i => s"é$i"))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    // decomposed sequence composes; composed char passes through; ASCII is invariant
    val r = spark.sql("SELECT nfkc('é') AS a, nfkc('é') AS b, nfkc('Abc 123!') AS c")
      .collect().head
    assert(r.getString(0) == "é" && r.getString(1) == "é" && r.getString(2) == "Abc 123!")
    // null propagates
    assert(spark.sql("SELECT nfkc(CAST(NULL AS STRING))").collect().head.isNullAt(0))
  }

  test("nfkc property: expression output equals java.text.Normalizer on random BMP mixtures") {
    import spark.implicits._
    import org.scalacheck.Gen
    NfkcExpr.register(spark)
    // atoms: plain ASCII, the compat table, and assorted canonical/compat
    // cases (decomposed accents, ligature ffi, vulgar fraction, unit m2)
    val atom = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf(graft.ops.TextOps.CompatChars.map(_._1)),
      Gen.oneOf("é", "ö", "é", "ﬃ", "⅓", "㎡"))
    val gen = Gen.listOfN(6, atom).map(_.mkString(" "))
    val inputs = scala.collection.mutable.ArrayBuffer.empty[String]
    forAll(gen)(s => inputs += s)
    val expect = inputs.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC))
    // drive through the CODEGEN path: array-literal lookup over a range
    // child (a local Seq would constant-fold to the interpreted eval)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val arr = array(inputs.toSeq.map(lit): _*)
      val got = spark.range(inputs.length)
        .select(NfkcExpr.nfkc(element_at(arr, (col("id") + 1).cast("int"))).as("kc"))
        .as[String].collect()
      assert(got.toSeq == expect.toSeq)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("triangle_limb_sum equals the explode+groupBy limb formulation (incl. negatives)") {
    // the r13 s24 kernel: the typed aggregate's per-cell (hi, lo) limb
    // sums must be bit-identical to the r12 explode form it replaced —
    // same truncating div/% limb split, same long addition
    import graft.functions.TriangleLimbSumAgg.triangle_limb_sum
    val dim = 5
    val nCells = dim * (dim + 1) / 2
    val rnd = new scala.util.Random(7)
    // magnitudes near the documented |u| <= 1e9 bound, both signs
    val data = Seq.fill(40)(Seq.fill(dim)(
      (rnd.nextLong() % 1000000000L) * (if (rnd.nextBoolean()) 1 else -1)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data.map(org.apache.spark.sql.Row(_)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))))
    val got = df.agg(triangle_limb_sum(col("u"), dim).as("s"))
      .select(explode(col("s")).as("v")).collect().map(_.getLong(0))
    val exploded = df.select(explode(expr(
      s"""flatten(transform(sequence(0, ${dim - 1}), i ->
         |  transform(sequence(i, ${dim - 1}), j ->
         |    struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
         |      element_at(u, CAST(i + 1 AS INT)) * element_at(u, CAST(j + 1 AS INT)) AS t))))""".stripMargin)).as("t"))
      .select(col("t.i"), col("t.j"), expr("t.t div 1000000000").as("hi"),
        expr("t.t % 1000000000").as("lo"))
      .groupBy(col("i"), col("j")).agg(sum(col("hi")).as("sh"), sum(col("lo")).as("sl"))
      .orderBy(col("i"), col("j")).collect()
    assert(exploded.length == nCells)
    exploded.zipWithIndex.foreach { case (r, p) =>
      assert(got(2 * p) == r.getLong(2), s"hi limb mismatch at cell $p")
      assert(got(2 * p + 1) == r.getLong(3), s"lo limb mismatch at cell $p")
    }
    // r14: the row counter is the buffer's LAST slot and counts only the
    // rows the fold actually accumulated
    assert(got.length == 2 * nCells + 1)
    assert(got.last == data.length.toLong)
  }

  test("triangle_limb_sum row counter excludes skipped (null-element) rows") {
    import graft.functions.TriangleLimbSumAgg.triangle_limb_sum
    val dim = 3
    val nCells = dim * (dim + 1) / 2
    val rows: Seq[Seq[Any]] = Seq(
      Seq(1L, 2L, 3L), Seq(4L, null, 6L), Seq(7L, 8L, 9L))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(org.apache.spark.sql.Row(_)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))))
    val got = df.agg(triangle_limb_sum(col("u"), dim).as("s"))
      .select(explode(col("s")).as("v")).collect().map(_.getLong(0))
    // ADVICE r13: a separate count(u) would have said 3; the fold skips
    // the null-element row, and n must agree with the sums it skipped
    assert(got.last == 2L)
    // cell (0,0): 1*1 + 7*7 = 50 — the null row contributes nothing
    assert(got(1) == 50L && got(0) == 0L)
  }
}
