package graft.tools

import org.apache.spark.sql.functions._

/** One measured parallelism fact (r13 verdict: the bench's sub-second
  * sf0.1 queries are per-query-overhead-bound, so 8 cores beat 32 and the
  * suite contains ZERO evidence that the plan shapes scale with cores).
  * This probe times a representative compute-heavy kernel — the s24
  * covariance pre-aggregate (TriangleLimbSumAgg over exact scaled longs)
  * — over the embeddings table replicated `copies` times (default 10,
  * ~10x the sf0.1 data volume), at the core count in SPARK_GRAFT_CPUS.
  * The replicated relation is round-robin repartitioned to 4 tasks/core
  * so the scan's file-split count cannot cap parallelism; the repartition
  * cost is deliberately inside the timed region (it is parallel work
  * too). Run twice and compare:
  *
  *   SPARK_GRAFT_CPUS=8  sbt 'runMain graft.tools.ParallelScalingProbe'
  *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.ParallelScalingProbe'
  *
  * Prints one JSON line with best-of-3 after a warmup run. A healthy
  * CPU-bound kernel should show >=2.5x on 4x cores.
  */
object ParallelScalingProbe {
  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val spark = Harness.session()
    import graft.functions.TriangleLimbSumAgg.triangle_limb_sum

    val emb = graft.ops.Tables.parquet(spark, s"${Harness.sfDir}/embeddings.parquet")
    val nD = emb.selectExpr("size(embedding)").head().getInt(0)
    // The fixture is one small parquet file, so the scan is ONE task:
    // everything before the exchange serializes. Fan out in two stages —
    // a cheap pre-shuffle explode (pre copies leave the single scan
    // task), then the rest of the replication AND the decimal
    // quantization AFTER the round-robin exchange, where 4 tasks/core
    // run them in parallel. Only the post-exchange work is the scaling
    // subject; the serial prefix is a few MB of row copying.
    val pre = math.max(1, math.ceil(math.sqrt(copies.toDouble)).toInt)
    val post = math.max(1, math.ceil(copies.toDouble / pre).toInt)
    val nRows = emb.count() * pre * post
    val big = emb
      .withColumn("rep", explode(expr(s"sequence(1, $pre)")))
      .repartition(4 * cpus.toInt)
      .withColumn("rep2", explode(expr(s"sequence(1, $post)")))
      .select(expr(
        "transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE), 8) AS DECIMAL(18,8)) * 100000000 AS BIGINT))")
        .as("u"))

    def once(): Double =
      Harness.seconds(Harness.sink(big.agg(triangle_limb_sum(col("u"), nD).as("s"))))
    spark.sparkContext.setJobDescription(s"scaling probe: s24 pre-aggregate x$copies")
    once() // warmup: codegen + parquet footers
    val runs = (1 to 3).map(_ => once())
    def dec3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    spark.stop()
    System.out.println(
      s"""{"probe":"s24_preagg","cpus":$cpus,"copies":$copies,"rows":$nRows,"dim":$nD,""" +
        s""""runs":[${runs.map(dec3).mkString(",")}],"best":${dec3(runs.min)}}""")
  }
}
