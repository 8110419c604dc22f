package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.testutil.SparkSuite

/** CentroidExprs: the reference-object centroid kernels must (a) be
  * bit-identical to the per-centroid-literal `greatest`/`array_sort`
  * formulation they replaced (that form is what the DuckDB replay oracle
  * mirrors), and (b) stay inside whole-stage codegen at production
  * centroid counts (nlist≈1024) where the literal tree blew the 64KB
  * generated-method limit. */
class CentroidExprsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import CentroidExprs.{centroid_argmax, centroid_topn}
  import graft.functions.VectorExprs.vec_cosine

  private def mat(k: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    Array.fill(k, dim)(r.nextGaussian())
  }

  private def embDf(n: Int, dim: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    import spark.implicits._
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("centroid_argmax is bit-identical to the greatest-over-literals form") {
    val cents = mat(16, 8, 3)
    val df = embDf(200, 8, 5)
    val scored = cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(vec_cosine(col("embedding"), typedlit(c.toSeq)).as("cs"), lit(-i).as("negc"))
    }
    val legacy = df.select(col("vec_id"), greatest(scored: _*).as("b"))
      .select(col("vec_id"), (-col("b.negc")).as("cluster"), col("b.cs").as("cs"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), bits(r.getDouble(2))))).toMap
    val kernel = df.select(col("vec_id"), centroid_argmax(col("embedding"), cents).as("b"))
      .select(col("vec_id"), col("b.cluster").as("cluster"), col("b.cs").as("cs"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), bits(r.getDouble(2))))).toMap
    assert(kernel.size == 200)
    assert(kernel == legacy)
  }

  test("centroid_topn is bit-identical to the array_sort-over-literals form") {
    val cents = mat(16, 8, 7)
    val df = embDf(60, 8, 11)
    val scored = cents.toSeq.zipWithIndex.map { case (c, i) =>
      struct(vec_cosine(col("embedding"), typedlit(c.toSeq)).as("cs"), lit(-i).as("negc"))
    }
    val legacy = df.select(col("vec_id"),
        explode(slice(reverse(array_sort(array(scored: _*))), 1, 5)).as("cell"))
      .select(col("vec_id"), (-col("cell.negc")).as("cluster"), col("cell.cs").as("cs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), bits(r.getDouble(2)))).toSet
    val kernel = df.select(col("vec_id"),
        explode(centroid_topn(col("embedding"), cents, 5)).as("cell"))
      .select(col("vec_id"), col("cell.cluster").as("cluster"), col("cell.cs").as("cs"))
      .collect().map(r => (r.getLong(0), r.getInt(1), bits(r.getDouble(2)))).toSet
    assert(kernel.size == 60 * 5)
    assert(kernel == legacy)
  }

  test("centroid_nearest_limb is bit-identical to the SQL limb-fold argmin (r14)") {
    // the s28 census assignment: the native kernel must reproduce the HOF
    // formulation's argmin exactly — same base-1e9 limb split, same
    // (dh, dl) lexicographic order, ties to the lower cluster. Scaled
    // integer coordinates inside the documented |scaled| <= 1e9 bound
    // (diffs <= 2e9, squares <= 4e18 — inside int64 under ANSI), plus
    // deliberately duplicated centroids so ties actually occur.
    val r = new scala.util.Random(13)
    val k = 9
    val dim = 8
    val centsL = Array.fill(k, dim)(r.nextLong() % 1000000000L)
    centsL(7) = centsL(2).clone // force exact-tie pairs
    import spark.implicits._
    val df = (0 until 150).map { i =>
      val v = if (i % 10 == 0) centsL(2).toSeq // exact hit -> tied distance 0
        else Seq.fill(dim)(r.nextLong() % 1000000000L)
      (i.toLong, v)
    }.toDF("vec_id", "ri")
    val cm = "array(" + centsL.map(c =>
      "array(" + c.map(v => s"CAST($v AS BIGINT)").mkString(",") + ")").mkString(",") + ")"
    val legacy = df.select(col("vec_id"), expr(
      s"""element_at(array_sort(transform(sequence(0, ${k - 1}), c ->
         |  struct(aggregate(zip_with(ri, element_at($cm, c + 1),
         |           (a, b) -> (a - b) * (a - b)),
         |         named_struct('h', 0L, 'l', 0L),
         |         (s, v) -> named_struct('h', s.h + v div 1000000000,
         |                                'l', s.l + v % 1000000000),
         |         s -> struct(s.h + s.l div 1000000000 AS dh,
         |                     s.l % 1000000000 AS dl)) AS d,
         |    CAST(c AS BIGINT) AS cl))), 1).cl""".stripMargin).as("cluster"))
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    val kernel = df.select(col("vec_id"),
        CentroidExprs.centroid_nearest_limb(col("ri"), centsL).as("cluster"))
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(kernel.size == 150)
    assert(kernel == legacy)
    // the tie rows really landed on the duplicated centroid's LOWER id
    assert((0 until 150 by 10).forall(i => kernel(i.toLong) == 2L))
  }

  test("centroid_nearest_limb rejects a scaled value past the 1e9 bound") {
    import spark.implicits._
    val cents = Array(Array(0L, 0L), Array(1000000000L, -1000000000L))
    // at the bound: the widest diff (2e9) squares to 4e18, inside a Long
    val ok = Seq((0L, Seq(-1000000000L, 1000000000L))).toDF("vec_id", "ri")
      .select(CentroidExprs.centroid_nearest_limb(col("ri"), cents)).as[Long].collect()
    assert(ok.toSeq == Seq(0L))
    // past it: the diff 3.1e9 to centroid 0 squares past 2^63 and wraps
    // negative, so centroid 0 would win silently (centroid 1 is nearer)
    val past = Seq((0L, Seq(3100000000L, 0L))).toDF("vec_id", "ri")
      .select(CentroidExprs.centroid_nearest_limb(col("ri"), cents))
    val e = intercept[Exception](past.collect())
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(t => t.isInstanceOf[IllegalArgumentException] &&
      t.getMessage.contains("element 0 3100000000 is outside the |scaled| <= 1e9 bound")), e)
    intercept[IllegalArgumentException](
      CentroidExprs.centroid_nearest_limb(col("ri"), Array(Array(1000000001L, 0L))))
  }

  test("NON-NULLABLE input stays codegen'd (generated code must not reference undeclared isNull)") {
    // regression: nullSafeCodeGen only DECLARES ev.isNull for nullable
    // expressions; the kernels' null-result guard referenced it
    // unconditionally, so a provably non-null array child produced
    // uncompilable generated Java and fell back to interpreted — the exact
    // failure the kernels exist to avoid
    val cents = mat(8, 4, 19)
    val cbs = Array.tabulate(2, 3, 2)((m, c, j) => (m * 10 + c * 3 + j).toDouble / 3.0)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // NOTE: no %, /, or math functions in the lambda — those are nullable
      // expressions and would defeat the point of the test
      val df = spark.range(20).toDF("id").withColumn("embedding",
        expr("transform(sequence(1, 4), j -> cast(id * 4 + j as float))"))
      val at = df.schema("embedding")
      assert(!at.nullable && !at.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull,
        "precondition: the test input must be provably non-nullable")
      val q = df.select(centroid_argmax(col("embedding"), cents).getField("cluster").as("c"),
        graft.functions.PqExprs.pq_encode(col("embedding"), cbs).as("codes"))
      assert(q.queryExecution.executedPlan.toString.contains("*(1)"))
      val rows = q.collect()
      assert(rows.length == 20)
      assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
      assert(rows.forall(r => r.getSeq[Int](1).forall(c => c >= 0 && c < 3)))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("nlist=1024 executes inside whole-stage codegen (no interpreted fallback)") {
    val cents = mat(1024, 64, 13)
    // spark.range (not a local Seq) so the projection survives to a real
    // codegen'd stage instead of constant-folding into LocalTableScan
    val df = spark.range(50).toDF("vec_id").withColumn("embedding",
      expr("transform(sequence(1, 64), j -> cast(sin(vec_id * 64 + j) as float))"))
    // fallback=false turns any codegen failure into a hard error instead of
    // a silent interpreted downgrade — the assertion the r4 verdict asked for
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val q = df.select(col("vec_id"), col("embedding"),
          centroid_argmax(col("embedding"), cents).as("b"))
        .select(col("vec_id"), col("b.cluster").as("cluster"), col("b.cs").as("cs"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), plan) // '*' marks whole-stage-codegen stages
      val rows = q.collect()
      assert(rows.length == 50)
      // independent scala-side argmax replay on a few rows
      val embs = df.collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
      rows.take(5).foreach { r =>
        val e = embs(r.getLong(0))
        val scored = cents.map { c =>
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < e.length) {
            val x = e(i).toDouble; val y = c(i)
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          val d = math.sqrt(na) * math.sqrt(nb)
          if (d == 0.0) 0.0 else dot / d
        }
        val best = scored.indices.maxBy(i => (scored(i), -i))
        assert(r.getInt(1) == best)
        assert(bits(r.getDouble(2)) == bits(scored(best)))
      }
      // query side at the same scale: top-10 of 1024, still codegen'd
      val qt = df.select(explode(centroid_topn(col("embedding"), cents, 10)).as("cell"))
      assert(qt.queryExecution.executedPlan.toString.contains("*(1)"))
      assert(qt.count() == 50 * 10)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("PQ kernels at production m=8 x 256 codes execute inside whole-stage codegen") {
    // same 64KB-method-limit regression class the nlist=1024 pin closes for
    // the centroid kernels: the codebook tensor (8 x 256 x 8 doubles) must
    // ride as ONE reference object, with generated-code size independent of
    // m·nCodes. fallback=false turns any codegen failure into a hard error.
    import graft.functions.PqExprs.{pq_decode, pq_encode}
    val m = 8; val nCodes = 256; val subDim = 8
    val cbs = Array.tabulate(m, nCodes, subDim)((s, c, j) =>
      math.sin(s * 7919 + c * 104729 + j * 13).abs * 10)
    val df = spark.range(40).toDF("vec_id").withColumn("embedding",
      expr(s"transform(sequence(1, ${m * subDim}), j -> cast(sin(vec_id * ${m * subDim} + j) * 5 as double))"))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val q = df.select(col("vec_id"), pq_encode(col("embedding"), cbs).as("codes"))
        .withColumn("recon", pq_decode(col("codes"), cbs))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("*(1)"), plan)
      val rows = q.collect()
      assert(rows.length == 40)
      // codes bounded by the 256-code books; reconstruction = selected cents
      rows.foreach { r =>
        val codes = r.getSeq[Int](1)
        assert(codes.length == m && codes.forall(c => c >= 0 && c < nCodes))
        val recon = r.getSeq[Double](2)
        codes.zipWithIndex.foreach { case (c, s) =>
          assert(recon.slice(s * subDim, (s + 1) * subDim) == cbs(s)(c).toSeq)
        }
      }
      // codegen result == interpreted kernel on a sample row
      val e0 = df.orderBy("vec_id").limit(1).collect().head.getSeq[Double](1).toArray
      val interp = graft.functions.PqEncode(
        org.apache.spark.sql.catalyst.expressions.Literal.create(e0,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, false)), cbs)
        .compute(new org.apache.spark.sql.catalyst.util.GenericArrayData(e0.map(_.asInstanceOf[Any])))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
      val viaCodegen = rows.find(_.getLong(0) == 0L).get.getSeq[Int](1)
      assert(viaCodegen == interp.toSeq)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }
}
