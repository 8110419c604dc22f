package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.testutil.SparkSuite

/** RobustStatsAgg must be bit-identical to the three-pass formulation it
  * replaced in q40: Spark `percentile`'s interpolation for the median
  * and the MAD, and the row-level modified z-score predicate for the
  * outlier count. The oracle (DuckDB quantile_cont) is gate-proven
  * against the built-in percentile, so built-in equivalence is the
  * contract that keeps q40 hash-green. */
class RobustStatsSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("median matches the built-in percentile bit-for-bit (ties, even/odd, negatives)") {
    import spark.implicits._
    val r = new scala.util.Random(21)
    val groups: Seq[(String, Seq[Double])] = Seq(
      "odd" -> Seq(3.25, -1.5, 9.75, 0.0, 2.5),
      "even" -> Seq(4.125, -2.25, 7.5, 1.0),
      "ties" -> Seq(5.5, 5.5, 5.5, 2.0, 2.0, 11.25, 5.5),
      "one" -> Seq(42.0),
      "rand" -> Seq.fill(257)(math.rint(r.nextGaussian() * 10000) / 16.0),
      "randEven" -> Seq.fill(256)(math.rint(r.nextGaussian() * 10000) / 16.0))
    val df = groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }.toDF("g", "x")
      .repartition(5) // partial buffers really merge
    val builtin = df.groupBy("g").agg(expr("percentile(x, 0.5)").as("m"))
      .collect().map(r2 => r2.getString(0) -> bits(r2.getDouble(1))).toMap
    val agg = df.groupBy("g").agg(RobustStatsAgg.robust_stats(col("x")).as("s"))
      .select(col("g"), col("s.med"))
      .collect().map(r2 => r2.getString(0) -> bits(r2.getDouble(1))).toMap
    assert(agg == builtin)
  }

  test("q40's single-pass aggregate equals the replaced three-pass formulation on lineitem") {
    val li = graft.ops.Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("x"))
    // the r13 three-pass form, verbatim
    def litMap(fit: Array[(String, Double)]) =
      element_at(map(fit.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*),
        col("l_returnflag"))
    val med = litMap(li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(x, 0.5)").as("med")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)))
    val ad = abs(col("x") - med)
    val mad = litMap(li.withColumn("ad", ad).groupBy(col("l_returnflag"))
      .agg(expr("percentile(ad, 0.5)").as("mad")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)))
    val legacy = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(first(med), 4).as("med"),
        round(first(mad), 4).as("mad"),
        sum(when(ad * 0.6745 > mad * 3.5, 1L).otherwise(0L)).as("n_outliers"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), bits(r.getDouble(2)), bits(r.getDouble(3)), r.getLong(4))))
      .toMap
    val onePass = li.groupBy(col("l_returnflag"))
      .agg(RobustStatsAgg.robust_stats(col("x")).as("m"))
      .select(col("l_returnflag"), col("m.n"),
        round(col("m.med"), 4).as("med"), round(col("m.mad"), 4).as("mad"),
        col("m.n_outliers"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), bits(r.getDouble(2)), bits(r.getDouble(3)), r.getLong(4))))
      .toMap
    assert(onePass.size == 3)
    assert(onePass == legacy)
  }

  test("nulls count into n, never into the order statistics or outliers") {
    import spark.implicits._
    val df = Seq[(String, Option[Double])](
      ("a", Some(1.0)), ("a", None), ("a", Some(3.0)), ("a", Some(100.0)),
      ("b", None), ("b", None)).toDF("g", "x")
    val got = df.groupBy("g").agg(RobustStatsAgg.robust_stats(col("x")).as("m"))
      .select(col("g"), col("m.n"), col("m.med"), col("m.n_outliers"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getLong(3)))).toMap
    assert(got("a")._1 == 4L) // the old count(1) semantics: null rows count
    assert(got("a")._2.contains(3.0))
    assert(got("b") == ((2L, None, 0L))) // all-null group: n kept, stats null
  }

  test("the serialized buffer size is Long arithmetic, checked against the array limit") {
    assert(RobustStatsAgg.serializedSize(0) == 12)
    assert(RobustStatsAgg.serializedSize(3) == 36)
    val top = (Int.MaxValue - 8 - 12) / 8
    assert(RobustStatsAgg.serializedSize(top) == 12 + top * 8)
    // 12 + n * 8 in Int arithmetic wraps here (to a negative size at
    // n = 2^28, to 4 at Int.MaxValue); no buffer is allocated to see it
    for (n <- Seq(top + 1, 1 << 28, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](RobustStatsAgg.serializedSize(n))
      assert(e.getMessage.contains(s"a group of $n non-null values"), e.getMessage)
    }
  }
}
