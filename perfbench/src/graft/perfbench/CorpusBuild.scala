package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.AtRestRegistry

/** `corpus_build`: LLM-data operators over a generated `documents` table.
  * Each segment resets the at-rest registries, makes one cold pass over the
  * queries, then warm passes until its time is up; every query is forced
  * through the `noop` sink with an order-independent row hash observed in
  * the same job and checked against the hash recorded for this corpus. */
final class CorpusBuild(spark: SparkSession, seed: Long, work: Path,
    expected: Map[String, String]) extends Workload {

  import CorpusBuild._

  private var dir: String = _
  private var textBytes = 0L
  private var setups = 0
  private var observed = 0

  def setup(): Double = {
    if (dir != null) Workload.deleteTree(new java.io.File(dir))
    setups += 1
    dir = work.resolve(s"corpus-$setups").toString
    val docs = generate(NumDocs)
    textBytes = docs.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
    val t0 = System.nanoTime()
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1), Schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass over the queries in seeded order. */
  private def pass(rec: Recorder, rng: SplittableRandom, tag: String, idx: Int): Unit =
    Workload.shuffle(rng, Queries).foreach { q =>
      observed += 1
      val obs = Observation(s"rowhash-$observed")
      val want = expected.get(q)
      rec.run("query", s"ops.$q", extra = Map("query" -> q, "pass" -> tag, "pass_idx" -> idx)) {
        val df = SparkEntry.queries(q)(spark, dir)
        df.observe(obs, rowHash(df).as("h"), count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
      } { _ =>
        val m = obs.get
        val got = s"${m("n")}:${m("h")}"
        if (!want.contains(got)) Main.log(s"$q row hash $got, recorded $want")
        want.contains(got)
      }
      spark.catalog.clearCache()
    }

  /** The cold pass runs first, so in a fresh JVM it is a cold start (JIT,
    * codegen and every registry build), and it warms the JVM for the warm
    * passes: the corpus has no untimed warm-up requests. */
  def segment(rec: Recorder, seconds: Double, warmup: Boolean): Map[String, Any] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    AtRestRegistry.resetAll()
    pass(rec, rng, "cold", 1)
    val regs = AtRestRegistry.all
    rec.tracer.add("registry.builds", regs.map(_.size).sum.toDouble)
    rec.tracer.add("registry.build_s", regs.flatMap(r => r.keys.flatMap(r.buildSecondsByKey.get)).sum)
    val t0 = System.nanoTime()
    var warm = 0
    while (warm < MinWarmPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      warm += 1
      pass(rec, rng, "warm", warm)
    }
    Map("corpus_docs" -> NumDocs, "corpus_bytes" -> textBytes, "corpus_queries" -> Queries.length)
  }

  override def cleanup(): Unit = if (dir != null) Workload.deleteTree(new java.io.File(dir))
}

object CorpusBuild {
  val Queries: Seq[String] = Seq("d3_dedup_minhash", "d13_containment", "c18_fuzzy_decontam",
    "s12_sparse_topk", "t9_bm25")
  val MinWarmPasses = 4

  /** Corpus size and the generator key. The corpus is the same in every run
    * (so each query's output hash can be recorded once); `--seed` orders the
    * queries within each pass. The shape follows the sf0.1 `documents`
    * table (5,000 docs); the count is 2,000 so that a run takes about 45 s
    * rather than 90 s (perfbench/README.md gives the measurements). */
  val NumDocs = 2000
  val CorpusKey = 20260117L

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** sf0.1's 30 text tokens, each about equally frequent. */
  private val Vocab = ("a agg batch big column customer data fast filter group hash join key line " +
    "merge order part query row scan slow small sort spark stream table the value vector window").split(' ')
  /** sf0.1's language mix: en about 41 %, zh, es, fr and de about 15 % each. */
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCdf = Array(0.41, 0.56, 0.71, 0.86, 1.0)
  val NumSources = 20
  /** Share of docs that are an exact copy of an earlier doc plus the token
    * `dup` (sf0.1: 250 of 5,000), so dedup, containment and
    * decontamination find real pairs. */
  val DupShare = 0.05

  /** Documents of 10 to 100 uniformly drawn tokens (sf0.1: 297 chars on
    * average, 44 to 577), the source round-robin over `src0`..`src19`. */
  def generate(numDocs: Int): Seq[org.apache.spark.sql.Row] = {
    val rng = new SplittableRandom(CorpusKey)
    val texts = new scala.collection.mutable.ArrayBuffer[String](numDocs)
    (0 until numDocs).map { i =>
      val text =
        if (i > 0 && rng.nextDouble() < DupShare) texts(rng.nextInt(i)) + " dup"
        else Array.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts += text
      val u = rng.nextDouble()
      org.apache.spark.sql.Row(i.toLong, text, Langs(LangCdf.indexWhere(u < _)), s"src${i % NumSources}",
        text.length.toLong)
    }
  }

  /** Order-independent hash of a relation's rows: the exact decimal sum of
    * per-row xxhash64 over every column, floating values rounded to 6
    * places so the last-ulp order effects of distributed sums cannot flip
    * it. */
  def rowHash(df: DataFrame): Column = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et @ (DoubleType | FloatType), _) => transform(c, v => norm(v, et))
      case _ => c
    }
    val cols = df.schema.fields.map(f => norm(col(f.name), f.dataType))
    sum(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)))
  }
}
