package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Corpus, Dedup, Tables, TextOps}

/** End-to-end training-data CURATION PIPELINE — the composition story: the
  * individually-gated operators chained the way a production corpus refresh
  * actually runs, one DataFrame flowing through six stages with no
  * driver-side materialization between them (each stage is lazy; Spark
  * plans the whole chain and the only actions are the stage-count report
  * and the final export).
  *
  *   raw documents
  *     → 1. QUALITY  : Gopher-rule verdicts (t16 kernel) — keep clean prose
  *     → 2. DEDUP    : exact content-hash, keep smallest doc_id (d1 rule)
  *     → 3. DECONTAM : drop docs sharing an 8-gram with the eval split (c3)
  *     → 4. REWEIGHT : DSIR importance score attached (c11)
  *     → 5. SAMPLE   : per-source quota of the highest-importance docs (c5 shape)
  *     → 6. EXPORT   : hive-partitioned parquet by source (c13 layout)
  *
  * Run: `sbt 'runMain graft.tools.CurationPipelineDemo [sfDir]'`. Prints a
  * per-stage funnel (rows surviving each cut) and the export manifest.
  * CurationPipelineSpec asserts the funnel is monotone and the export
  * reloads losslessly. */
object CurationPipelineDemo {

  /** The full pipeline as one lazy DataFrame chain; returns
    * (stage name → surviving count, exported DataFrame read back). */
  def run(spark: SparkSession, dir: String, quota: Int = 12): (Seq[(String, Long)], DataFrame) = {
    val docs = Tables.t(spark, dir, "documents")

    // 1. quality: the t16 verdict kernel (row-local, codegen)
    val clean = docs.join(
      TextOps.gopherRules(docs).select(col("doc_id"), col("keep")), Seq("doc_id"))
      .filter(col("keep")).drop("keep")

    // 2. exact dedup: keep the smallest doc_id per content hash (d1 rule)
    val hashed = clean.withColumn("h", md5(col("text")))
    val keeper = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    val deduped = hashed.join(keeper, Seq("h", "doc_id"), "left_semi").drop("h")

    // 3. decontamination: c3's verdict, contaminated docs dropped (the
    // eval split itself never enters the training corpus)
    val decon = deduped.join(
      Corpus.decontaminate(docs).select(col("doc_id"), col("contaminated")), Seq("doc_id"))
      .filter(!col("contaminated")).drop("contaminated")

    // 4. DSIR importance weights attached (fitted on the RAW corpus — the
    // estimator must see the distribution it corrects)
    val weighted = decon.join(
      Corpus.importanceWeights(docs).select(col("doc_id"), col("iw")), Seq("doc_id"))

    // 5. per-source quota of the highest-importance survivors (c5's
    // WindowGroupLimit shape: rank pushes into the exchange)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("iw").desc, col("doc_id"))
    val sampled = weighted.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota).drop("rk")

    // 6. hive-partitioned export (c13 layout: one dir per source)
    val out = java.nio.file.Files.createTempDirectory("graft-pipeline-out").toString
    sampled.write.mode("overwrite").partitionBy("source").parquet(out)
    val reloaded = graft.ops.Tables.parquet(spark, out)

    val funnel = Seq(
      "raw" -> docs.count(),
      "1_quality" -> clean.count(),
      "2_dedup" -> deduped.count(),
      "3_decontam" -> decon.count(),
      "4_weighted" -> weighted.count(),
      "5_sampled" -> sampled.count(),
      "6_exported" -> reloaded.count())
    (funnel, reloaded)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-curation-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (funnel, reloaded) = run(spark, dir)
    println("curation funnel:")
    funnel.foreach { case (st, n) => println(f"  $st%-12s $n%7d rows") }
    println("export manifest (per source):")
    reloaded.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
        round(avg(col("iw")), 4).as("mean_iw"))
      .orderBy(col("source")).collect()
      .foreach(r => println(f"  ${r.getString(0)}%-8s ${r.getLong(1)}%3d docs, mean iw ${r.get(2)}"))
    spark.stop()
  }
}
