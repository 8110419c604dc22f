package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Tables._

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH bucketed variant as the scale path (candidates come from a bucket
  * equi-join instead of a full cross product). */
object Similarity {

  import graft.functions.VectorExprs.{vec_cosine, vec_dot}

  /** Fused-loop cosine via the native codegen expression
    * (graft.functions.VectorExprs) — bit-identical to the HOF formulation
    * `aggregate(zip_with(...))` and to the DuckDB oracle's double math,
    * but whole-stage-codegen'd. */
  private def cosine(a: String, b: String): Column = vec_cosine(col(a), col(b))

  /** Exact cosine top-k: the first `nQueries` vectors against the whole
    * table. The query side is broadcast; the scan side streams — at scale
    * this is one pass over the embedding table per batch of queries. */
  def cosineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"))
    val cand = e.select(col("vec_id").as("nb_id"), col("embedding").as("ea"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    cand.join(broadcast(q), col("nb_id") =!= col("q_id"))
      .withColumn("cos", cosine("qa", "ea"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 4).as("cs"), col("rnk").cast("long").as("rnk"))
  }

  /** kNN label-vote evaluation — the standard embedding-quality check a
    * training pipeline runs after (re)embedding: each query vector is
    * classified by majority label of its exact top-`k` cosine neighbors
    * (ties to the smallest label), compared against its own label. High
    * agreement = the embedding space clusters labels = the corpus signals
    * are intact.
    *
    * Scale shape: inherits [[cosineTopK]]'s broadcast-queries × streamed
    * flat scan (an EVAL over a query sample, so the definitional all-pairs
    * is bounded by nQueries · corpus, not corpus²); the vote is a tiny
    * aggregation of nQueries·k rows, and label attachment broadcasts the
    * small top-k relation against the labels scan. */
  def knnLabelVote(spark: SparkSession, dir: String, nQueries: Int = 50, k: Int = 5): DataFrame = {
    val labels = t(spark, dir, "embeddings").select(col("vec_id"), col("label"))
    val topk = cosineTopK(spark, dir, nQueries, k)
    val votes = labels.withColumnRenamed("vec_id", "nb_id")
      .join(broadcast(topk.select(col("q_id"), col("nb_id"))), Seq("nb_id"))
      .groupBy(col("q_id"), col("label")).agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("label").asc)
    val pred = votes.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("votes"))
    labels.withColumnRenamed("vec_id", "q_id").withColumnRenamed("label", "true_label")
      .join(broadcast(pred), Seq("q_id"))
      .select(col("q_id"), col("pred_label"), col("votes"),
        col("true_label"), (col("pred_label") === col("true_label")).as("correct"))
  }

  /** The exact-cosine q/pairs/ranked CTE chain — the ONE SQL definition of
    * [[cosineTopK]]'s ranking that the s1 and s9 oracles share (the Spark
    * side shares `cosineTopK` itself; the oracles must share the SQL twin
    * for the same can-never-drift reason). */
  private def cosineRankedCtes(nQueries: Int): String =
    s"""q AS (SELECT vec_id AS q_id, embedding AS qa FROM embeddings WHERE vec_id < $nQueries),
       | pairs AS (
       |  SELECT q.q_id, e.vec_id AS nb_id,
       |   (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(q.qa) AS x, unnest(e.embedding) AS y) z) /
       |   (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(q.qa) AS x) z2)) *
       |    sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y) z3))) AS cos
       |  FROM q, embeddings e WHERE e.vec_id != q.q_id),
       | ranked AS (SELECT q_id, nb_id, cos,
       |            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM pairs)""".stripMargin

  /** DuckDB twin of [[cosineTopK]] (the s1 oracle). */
  def cosineTopKOracleSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH ${cosineRankedCtes(nQueries)}
       |SELECT q_id, nb_id, round(cos, 4) AS cs, rnk FROM ranked WHERE rnk <= $k""".stripMargin

  /** DuckDB twin of [[knnLabelVote]] — the s1 ranking replay with the same
    * vote and tie orders. */
  def knnLabelVoteOracleSql(nQueries: Int = 50, k: Int = 5): String =
    s"""WITH ${cosineRankedCtes(nQueries)},
       | votes AS (SELECT r.q_id, e.label, count(*) AS votes
       |           FROM ranked r JOIN embeddings e ON e.vec_id = r.nb_id
       |           WHERE r.rnk <= $k GROUP BY r.q_id, e.label),
       | pred AS (SELECT q_id, label AS pred_label, votes FROM (
       |            SELECT q_id, label, votes,
       |              row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS r
       |            FROM votes) v WHERE r = 1)
       |SELECT p.q_id, p.pred_label, CAST(p.votes AS BIGINT) AS votes,
       | e.label AS true_label, p.pred_label = e.label AS correct
       |FROM pred p JOIN embeddings e ON e.vec_id = p.q_id""".stripMargin

  /** ANN recall@k evaluation (s11) — the acceptance gate every approximate
    * index needs before it replaces the exact scan: each ANN path's top-k
    * ([[annLsh]], [[annIvf]]) is scored against the exact ground truth
    * ([[cosineTopK]]) per query, recall@k = |approx ∩ exact| / k. This is
    * the measurement behind the "production composition is IVFADC" claim —
    * run it after every re-embed or index refit, alert on regression.
    *
    * Scale shape: all the heavy lifting (flat exact scan, bucket probes,
    * coarse quantizer) happens INSIDE the composed operators, each already
    * plan-audited; the eval itself joins three nQueries·k-row relations —
    * broadcast-sized by construction at any corpus scale. */
  def annRecallEval(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    // materialized: both recallOf branches consume it, and its LINEAGE is
    // the flat query×corpus scan — left as lineage the BNLJ executes twice
    // (the AQE lineage-reuse trap, same as d2/t12)
    val exact = materialize(cosineTopK(spark, dir, nQueries, k).select(col("q_id"), col("nb_id")))
    def recallOf(method: String, approx: DataFrame): DataFrame =
      exact.join(broadcast(approx.select(col("q_id"), col("nb_id"), lit(1L).as("hit"))),
          Seq("q_id", "nb_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(method).as("method"), col("q_id"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / lit(k), 4).as("recall"))
    recallOf("ivf", annIvf(spark, dir, nQueries, k))
      .unionByName(recallOf("lsh", annLsh(spark, dir, nQueries, k)))
  }

  /** DuckDB twin of [[annRecallEval]]: the s1/s2/s4 oracle queries verbatim
    * as sub-selects (they must stay bit-identical to their own gates), the
    * same per-method left join and count. */
  def annRecallEvalOracleSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH ex AS (SELECT q_id, nb_id FROM (${cosineTopKOracleSql(nQueries, k)})),
       | ap AS (SELECT 'lsh' AS method, q_id, nb_id FROM (${annLshOracleSql(nQueries, k)})
       |        UNION ALL
       |        SELECT 'ivf' AS method, q_id, nb_id FROM (${annIvfOracleSql(nQueries, k)}))
       |SELECT m.method, e.q_id, CAST(count(a.nb_id) AS BIGINT) AS n_hit,
       | round(CAST(count(a.nb_id) AS DOUBLE) / $k, 4) AS recall
       |FROM (VALUES ('lsh'), ('ivf')) m(method)
       |CROSS JOIN ex e
       |LEFT JOIN ap a ON a.method = m.method AND a.q_id = e.q_id AND a.nb_id = e.nb_id
       |GROUP BY m.method, e.q_id""".stripMargin

  /** Matryoshka/truncated-dimension recall eval (s17) — the embedding-
    * compression acceptance gate: score top-`k` retrieval using only the
    * FIRST `d` dimensions of each vector against the full-dimension exact
    * ground truth, for several prefix lengths. Matryoshka-trained
    * embeddings concentrate signal in the prefix, so this table answers
    * "can we serve at d=16 and cut the ANN index 4×?" the same way s11
    * answers "can LSH/IVF replace the flat scan?". (On this fixture's
    * isotropic random vectors the recall falloff is steep — exactly the
    * negative control: the eval must DETECT that these embeddings don't
    * truncate well.)
    *
    * Scale shape: per-dim scoring is the s1 eval shape (bounded broadcast
    * query side × one streamed corpus scan, linear per dim); slicing is
    * row-local; the recall join is broadcast-sized. The production serve
    * path at an accepted prefix is s8 over sliced vectors. */
  def matryoshkaEval(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, dims: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val exact = materialize(cosineTopK(spark, dir, nQueries, k).select(col("q_id"), col("nb_id")))
    val emb = t(spark, dir, "embeddings")
    def truncTopK(d: Int): DataFrame = {
      val e = emb.select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
      val q = e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qa"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
      e.select(col("vec_id").as("nb_id"), col("embedding").as("ea"))
        .join(broadcast(q), col("nb_id") =!= col("q_id"))
        .withColumn("cos", cosine("qa", "ea"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("nb_id"))
    }
    dims.map { d =>
      exact.join(broadcast(truncTopK(d).withColumn("hit", lit(1L))),
          Seq("q_id", "nb_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(d.toLong).as("dim"), col("q_id"), col("n_hit"),
          round(col("n_hit").cast(DoubleType) / lit(k), 4).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** DuckDB oracle twin of [[matryoshkaEval]]: per-prefix ranked replay
    * over the sliced lists, the full-dim exact CTE, same recall join. */
  def matryoshkaEvalOracleSql(nQueries: Int = 10, k: Int = 5,
      dims: Seq[Int] = Seq(8, 16, 32)): String = {
    def ranked(d: Int): String =
      s"""SELECT q_id, nb_id FROM (
         |  SELECT q.vec_id AS q_id, e.vec_id AS nb_id,
         |    list_dot_product(q.emb, e.emb) /
         |      (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(e.emb, e.emb))) AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      list_dot_product(q.emb, e.emb) /
         |        (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(e.emb, e.emb))) DESC,
         |      e.vec_id) AS rnk
         |  FROM (SELECT vec_id, list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS emb
         |        FROM embeddings WHERE vec_id < $nQueries) q,
         |       (SELECT vec_id, list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS emb
         |        FROM embeddings) e
         |  WHERE e.vec_id != q.vec_id) r WHERE rnk <= $k""".stripMargin
    val aps = dims.map(d =>
      s"SELECT CAST($d AS BIGINT) AS dim, q_id, nb_id FROM (${ranked(d)})")
      .mkString("\n        UNION ALL\n        ")
    s"""WITH ex AS (SELECT q_id, nb_id FROM (${cosineTopKOracleSql(nQueries, k)})),
       | ap AS ($aps)
       |SELECT d.dim, e.q_id, CAST(count(a.nb_id) AS BIGINT) AS n_hit,
       | round(CAST(count(a.nb_id) AS DOUBLE) / $k, 4) AS recall
       |FROM (VALUES (${dims.map(d => s"CAST($d AS BIGINT)").mkString("), (")})) d(dim)
       |CROSS JOIN ex e
       |LEFT JOIN ap a ON a.dim = d.dim AND a.q_id = e.q_id AND a.nb_id = e.nb_id
       |GROUP BY d.dim, e.q_id""".stripMargin
  }

  /** Embedding QC (s19) — the sanity pass a pipeline runs after every
    * re-embed and BEFORE building any index: per vector, its dimension
    * count, zero-component count, and L2 norm. Catches the classic
    * embedding-job failures (all-zero vectors from a crashed encoder
    * shard, truncated dims from a schema drift, collapsed norms from a
    * bad normalization) that would silently poison every downstream
    * cosine. Row-local arithmetic over the vector column, zero shuffle,
    * one scan — at 100 TB this rides along with the embed write itself. */
  def embeddingQc(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"),
        size(col("embedding")).cast(LongType).as("nd"),
        size(filter(col("embedding"), x => x === 0.0f)).cast(LongType).as("n_zero"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))), 4).as("nrm"))

  /** DuckDB oracle twin of [[embeddingQc]] — same double accumulation and
    * rounding. */
  def embeddingQcOracleSql: String =
    """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS nd,
      | CAST(len(list_filter(embedding, x -> x = 0.0)) AS BIGINT) AS n_zero,
      | round(sqrt(list_sum(list_transform(embedding,
      |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS nrm
      |FROM embeddings""".stripMargin

  /** Per-DIMENSION embedding statistics (s20) — the companion screen to
    * s19's per-vector QC: mean, std, and zero-fraction of every embedding
    * coordinate across the corpus. Catches what the per-vector view can't:
    * a DEAD dimension (all zeros — a truncated projection or a masked
    * feature), a collapsed dimension (std ≈ 0 — carries no signal, prime
    * candidate for the s17 truncation decision), and mean drift between
    * embedding batches. This is also the fit the standard whitening /
    * mean-centering preprocessing consumes.
    *
    * Scale shape: one posexplode to (dim, v) grain, ONE map-side-combined
    * aggregation to dim grain — the exchange carries dims×partials, never
    * vectors; output is dim-sized (64 rows). Cross-engine: the s10
    * discipline — each element rounds to DECIMAL(18,8) before the sums, so
    * partial-aggregation order can't move the result; mean/std finals are
    * one deterministic double expression each (variance via m2/n − mean²,
    * clamped at 0, with an explicit product instead of pow so both engines
    * run the identical IEEE ops). */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val d = t(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("pos").cast(LongType).as("pos"), col("v0").cast(DoubleType).as("v"))
    val m = col("s").cast(DoubleType) / col("n")
    d.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") === 0.0, lit(1L)).otherwise(lit(0L))).as("n_zero"),
        sum(round(col("v"), 8).cast(dec)).as("s"),
        sum(round(col("v") * col("v"), 8).cast(dec)).as("sq"))
      .select(col("pos"), col("n"), col("n_zero"),
        round(m, 4).as("mean"),
        round(sqrt(greatest(lit(0.0), col("sq").cast(DoubleType) / col("n") - m * m)), 4).as("std"))
  }

  /** DuckDB oracle twin of [[dimStats]] — same per-element decimal
    * rounding, same exact sums, same final double expressions. */
  def dimStatsOracleSql: String =
    """WITH d AS (SELECT u.pos AS pos, CAST(u.v AS DOUBLE) AS v FROM (
      |            SELECT unnest([{'pos': i - 1, 'v': embedding[i]}
      |                           FOR i IN range(1, len(embedding) + 1)]) AS u
      |            FROM embeddings)),
      | s AS (SELECT pos, count(*) AS n,
      |        sum(CASE WHEN v = 0.0 THEN 1 ELSE 0 END) AS n_zero,
      |        sum(CAST(round(v, 8) AS DECIMAL(18,8))) AS s,
      |        sum(CAST(round(v * v, 8) AS DECIMAL(18,8))) AS sq
      |       FROM d GROUP BY pos)
      |SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
      | CAST(n_zero AS BIGINT) AS n_zero,
      | round(CAST(s AS DOUBLE) / n, 4) AS mean,
      | round(sqrt(greatest(0.0, CAST(sq AS DOUBLE) / n
      |   - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))), 4) AS std
      |FROM s""".stripMargin

  // ---------------- random-hyperplane LSH ----------------

  val Dim = 64
  val Planes = 6 // per table: 2^6 buckets
  val Tables = 8 // independent hash tables; candidates = union over tables

  /** Deterministic pseudo-random hyperplanes (seeded), per table. */
  private[ops] val planes: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(Tables, Planes, Dim)(rnd.nextGaussian())
  }

  /** Sign-bucket id within table `tbl`: bit p set iff embedding·plane_p > 0.
    * The table index is folded into the bucket value so one equi-join over
    * the exploded (table, bucket) pairs serves all tables. */
  private def bucketCol(emb: String, tbl: Int): Column =
    (0 until Planes).map { p =>
      when(vec_dot(col(emb), typedlit(planes(tbl)(p).toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _) + lit(tbl.toLong << 32)

  /** Explode each row into its `Tables` (bucket) keys. */
  private def withBuckets(df: DataFrame, emb: String): DataFrame =
    df.withColumn("bucket", explode(array((0 until Tables).map(t => bucketCol(emb, t)): _*)))

  /** Default per-(table,bucket) width bound for the self-join paths. Never
    * reached on balanced sign-buckets at the test SFs (≈ N/2^Planes rows per
    * bucket); it exists for the 100 TB shape, where one degenerate bucket
    * (duplicate-heavy or low-entropy region) would otherwise turn the bucket
    * equi-join quadratic. */
  val MaxBucketWidth = 10000

  /** Drop rows belonging to a (table,bucket) wider than `cap`. The hot-bucket
    * list is a map-side-combined aggregate and is tiny by construction (only
    * buckets over the cap), so the filter is a broadcast anti-join — no extra
    * shuffle of the big side. Over-wide buckets contribute no candidate
    * pairs: at that width sign-LSH carries no signal and the right tool is
    * exact clustering of that bucket, not a quadratic join (documented
    * coverage bound, logged via the `graft_dropped_buckets` accumulator
    * pattern in the caller's metrics if needed). */
  private def capBuckets(df: DataFrame, cap: Int): DataFrame = {
    val hot = df.groupBy(col("bucket")).agg(count(lit(1)).as("__bw"))
      .filter(col("__bw") > cap).select(col("bucket"))
    df.join(broadcast(hot), Seq("bucket"), "left_anti")
  }

  /** [[capBuckets]] for ORACLE-GATED candidate generation (c32): the
    * oracle replays the bucket join UNCAPPED, so a bucket actually
    * exceeding the cap must FAIL the run loudly (assert_true on the
    * broadcast build side — evaluated only for over-cap buckets, so the
    * healthy path costs exactly what [[capBuckets]] does) instead of
    * silently dropping candidates the oracle keeps (ADVICE r11 — the
    * MaxBucketWidth doc proves this unreachable at the gated SFs; this
    * makes a future dataset that trips it a crash, not a divergence). */
  private[graft] def capBucketsOrFail(df: DataFrame, cap: Int): DataFrame = {
    val hot = df.groupBy(col("bucket")).agg(count(lit(1)).as("__bw"))
      .filter(col("__bw") > cap)
      .select(coalesce(
        assert_true(lit(false), concat(lit(s"LSH bucket over the $cap-row cap "),
          lit("on an oracle-gated path: bucket "), col("bucket").cast("string"),
          lit(" width "), col("__bw").cast("string"))).cast(LongType),
        col("bucket")).as("bucket"))
    df.join(broadcast(hot), Seq("bucket"), "left_anti")
  }

  /** Multiprobe masks: the bucket itself plus every Hamming-1 and Hamming-2
    * neighbor (1 + 6 + 15 = 22 probes per table). Probing is query-side
    * only (broadcast), so it buys the recall of ~4x the table count with no
    * cost on the streamed candidate side. */
  private val probeMasks: Seq[Long] =
    0L +: ((0 until Planes).map(p => 1L << p) ++
      (for { p <- 0 until Planes; q <- p + 1 until Planes } yield (1L << p) | (1L << q)))

  /** Approximate NN: candidates restricted to the query's LSH buckets, then
    * exact cosine + rank. A bucket equi-join shuffle replaces the cross
    * product — the 100 TB-safe shape. The (broadcast) query side multiprobes
    * every Hamming-≤2 neighbor of its bucket in each table (22 probes × 8
    * tables, see [[probeMasks]]); the candidate side is width-capped so one
    * degenerate bucket cannot go quadratic. ExtensionOpsSpec measures recall
    * against [[cosineTopK]]. */
  def annLsh(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      maxBucketWidth: Int = MaxBucketWidth): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    // the candidate structure is computed over SLIM (id, bucket) rows: the
    // dedup Exchange shuffles two longs per row, never the embedding arrays.
    // The bucketing pass (48 hyperplane dot products per row over the full
    // scan) is consumed by the hot-bucket aggregate AND the equi-join, so it
    // is materialized once (two-long rows, O(1) lineage; reliable checkpoint
    // when a checkpoint dir is set — see Tables.materialize) instead of
    // evaluated per consumer.
    val sig = capBuckets(
      materialize(
        withBuckets(emb.select(col("vec_id"), col("embedding")), "embedding")
          .select(col("vec_id").as("nb_id"), col("bucket"))),
      maxBucketWidth)
    val probes = explode(array(probeMasks.map(
      m => col("bucket").bitwiseXOR(lit(m))): _*))
    val qsig = withBuckets(
        emb.filter(col("vec_id") < nQueries).select(col("vec_id"), col("embedding")), "embedding")
      .select(col("vec_id").as("q_id"), probes.as("bucket"))
    val candIds = sig.join(broadcast(qsig), Seq("bucket"))
      .filter(col("nb_id") =!= col("q_id"))
      .select(col("q_id"), col("nb_id"))
      .dropDuplicates("q_id", "nb_id") // union over tables and probes
    // embeddings re-enter only for the surviving candidates
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    candIds
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qa"))), Seq("q_id"))
      .join(emb.select(col("vec_id").as("nb_id"), col("embedding").as("ea")), Seq("nb_id"))
      .withColumn("cos", cosine("qa", "ea"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 4).as("cs"), col("rnk").cast("long").as("rnk"))
  }

  /** RANGE (radius) search under the oracle gate (s16) — the other ANN
    * service primitive next to top-k: return EVERY corpus vector within
    * cosine ≥ `minCos` of each query, not a fixed count. Same LSH
    * candidate machinery as [[annLsh]] (multiprobed sign-buckets, slim
    * (id, bucket) shuffle, width cap), but the exact-cosine stage keeps
    * the threshold survivors instead of ranking — the natural shape for
    * "collect all near-duplicates of this document" / "find everything in
    * this semantic neighborhood" retrieval, where result cardinality is
    * data-dependent. s3 is this op's self-join sibling (corpus × corpus);
    * s16 is query-driven (bounded broadcast side × indexed corpus). */
  def rangeSearch(spark: SparkSession, dir: String, nQueries: Int = 10,
      minCos: Double = 0.3, maxBucketWidth: Int = MaxBucketWidth): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val sig = capBuckets(
      materialize(
        withBuckets(emb.select(col("vec_id"), col("embedding")), "embedding")
          .select(col("vec_id").as("nb_id"), col("bucket"))),
      maxBucketWidth)
    val probes = explode(array(probeMasks.map(
      m => col("bucket").bitwiseXOR(lit(m))): _*))
    val qsig = withBuckets(
        emb.filter(col("vec_id") < nQueries).select(col("vec_id"), col("embedding")), "embedding")
      .select(col("vec_id").as("q_id"), probes.as("bucket"))
    val candIds = sig.join(broadcast(qsig), Seq("bucket"))
      .filter(col("nb_id") =!= col("q_id"))
      .select(col("q_id"), col("nb_id"))
      .dropDuplicates("q_id", "nb_id")
    candIds
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qa"))), Seq("q_id"))
      .join(emb.select(col("vec_id").as("nb_id"), col("embedding").as("ea")), Seq("nb_id"))
      .withColumn("cos", cosine("qa", "ea"))
      .filter(col("cos") >= minCos)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 4).as("cs"))
  }

  /** DuckDB oracle twin of [[rangeSearch]] — the s2 candidate replay with
    * the threshold filter instead of the rank window. */
  def rangeSearchOracleSql(nQueries: Int = 10, minCos: Double = 0.3): String =
    s"""WITH ${lshCandSqlCtes(nQueries)}
       |SELECT q_id, nb_id, round(cos, 4) AS cs FROM p WHERE cos >= $minCos""".stripMargin

  // ---------------- IVF (k-means coarse quantizer) ----------------

  /** Approximate NN via an IVF index — the second scale path from the
    * brief, complementary to [[annLsh]]: a k-means coarse quantizer
    * partitions the corpus into `nlist` cells; a query probes its `nprobe`
    * nearest centroids and reranks only those cells' members with exact
    * cosine. Cell assignment is max-COSINE to the fitted centroids (not
    * MLlib's internal Euclidean `transform`), so assignment, probe and
    * rerank share one metric — and every step downstream of the fitted
    * centroids is closed-form, which is what makes the oracle possible.
    *
    * Scale shape: training is the only driver-iterative step and runs on a
    * sample at real corpus sizes (MLlib k-means||); assignment inlines the
    * nlist centroids as literals into a row-local argmax — a single
    * map-only pass with ZERO shuffle (same shape as [[kmeansDomains]]);
    * probe selection is a row-local sort of the same nlist scores on the
    * query side; the only join is the cluster equi-join with the (tiny)
    * query→cell table broadcast, so candidates stream — no all-pairs
    * anywhere. The centroid count bounds cell width on *clustered* data the
    * way the bucket cap bounds LSH cells.
    *
    * Oracle: the centroids are a training artifact, so (like [[kmeansDomains]])
    * they are dumped to parquet and DuckDB replays assignment, probe choice
    * and exact rerank from the same constants — see [[annIvfOracleSql]].
    * Recall is additionally spec-measured against [[cosineTopK]]. */
  /** Cap on the coarse-quantizer training set: k-means sees at most this
    * many vectors (nlist=16 centroids need thousands of samples, not the
    * corpus). On a 100 TB corpus this bounds the iterative phase to a
    * constant-size problem; the full corpus is touched exactly once, by the
    * single-pass assignment. */
  val IvfTrainCap = 100000

  /** The capped training sample, COLLECTED once: quantizer training is a
    * constant-size problem ([[IvfTrainCap]] × dim doubles ≈ 50 MB) and at
    * that size a distributed Lloyd pays more in per-iteration job
    * scheduling than in math — the r7 bench put s6/s8 at 2–8 s with Spark
    * ML KMeans where the arithmetic is tens of milliseconds. This is the
    * standard ANN-serving shape (train-then-index): the quantizer trains
    * node-local on a bounded sample, and the FULL corpus is touched only
    * by the distributed single-pass assignment/encode that follows. Same
    * capped-driver-fit precedent as the BPE vocabulary (TextOps). */
  private def cappedTrainSample(emb: DataFrame): Array[Array[Double]] =
    emb.select(col("embedding")).limit(IvfTrainCap).collect()
      .map(_.getSeq[Number](0).iterator.map(_.doubleValue).toArray)

  /** Seeded in-process Lloyd (squared-L2, mean update): deterministic
    * init via partial Fisher–Yates, empty clusters keep their previous
    * centroid. Assignment parallelizes across cores; the update pass is a
    * single accumulation sweep. Exactness doesn't matter to the gates —
    * every consumer dumps its fitted centroids and the oracle REPLAYS
    * downstream math from the dump — but determinism (seed → same
    * centroids) keeps runs reproducible. */
  private[ops] def lloydLocal(points: Array[Array[Double]], k: Int,
      maxIter: Int, seed: Long): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "empty k-means training sample")
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    val idx = Array.tabulate(n)(identity)
    val kk = math.min(k, n)
    var i = 0
    while (i < kk) { // partial Fisher–Yates: first kk slots are distinct picks
      val j = i + rnd.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t; i += 1
    }
    val cents = Array.tabulate(k)(c => points(idx(c % kk)).clone)
    val assign = new Array[Int](n)
    var it = 0
    while (it < maxIter) {
      java.util.stream.IntStream.range(0, n).parallel().forEach { p =>
        val pt = points(p)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val ce = cents(c); var d = 0.0; var j = 0
          while (j < dim) { val df = pt(j) - ce(j); d += df * df; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        assign(p) = best
      }
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      var p = 0
      while (p < n) {
        val c = assign(p); cnt(c) += 1
        val pt = points(p); val s = sums(c); var j = 0
        while (j < dim) { s(j) += pt(j); j += 1 }
        p += 1
      }
      var c = 0
      while (c < k) {
        if (cnt(c) > 0) {
          var j = 0; while (j < dim) { cents(c)(j) = sums(c)(j) / cnt(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Coarse k-means quantizer (maxIter 10) over the capped sample — the
    * ONE fit definition s4, s6, and s8 share. */
  private def fitCoarseCentroids(train: Array[Array[Double]], nlist: Int,
      seed: Long = 7): Array[Array[Double]] =
    lloydLocal(train, nlist, maxIter = 10, seed)

  /** `m` per-subspace PQ codebooks (seeds 7+s, maxIter 5 — plenty for an
    * (dim/m)-dim nCodes-code quantizer) over disjoint dimension slices of
    * the same sample. The ONE fit definition s7 and s8 share. */
  private def fitPqCodebooks(train: Array[Array[Double]], m: Int,
      nCodes: Int): Array[Array[Array[Double]]] = {
    val subDim = Dim / m
    Array.tabulate(m) { s =>
      val slice = train.map(p => java.util.Arrays.copyOfRange(p, s * subDim, (s + 1) * subDim))
      lloydLocal(slice, nCodes, maxIter = 5, seed = 7 + s)
    }
  }

  /** Dump fitted coarse centroids for a replay oracle (schema the oracles
    * depend on: (cluster int, centroid array<double>)). */
  private def dumpCentroids(spark: SparkSession, cents: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "centroid").coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Dump fitted PQ codebooks for a replay oracle (schema the oracles
    * depend on: (m int, code int, cent array<double>)). */
  private def dumpCodebooks(spark: SparkSession, cbs: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    cbs.zipWithIndex.toSeq
      .flatMap { case (cb, s) => cb.zipWithIndex.map { case (c, code) => (s, code, c.toSeq) } }
      .toDF("m", "code", "cent").coalesce(1).write.mode("overwrite").parquet(path)
  }

  def annIvf(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 10): DataFrame = {
    // nprobe 10/16 on gaussian test data: random embeddings are IVF's
    // worst case (no cluster structure, neighbors scatter across cells),
    // so the toy-scale probe ratio is high; production nlist is thousands
    // with nprobe in the tens, and recall is spec-measured either way
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), nlist)
    dumpCentroids(spark, centMatrix, IvfCentroidDump)
    // assignment = row-local argmax over the nlist scores — zero shuffle.
    // The centroid matrix rides as ONE reference object in a codegen'd
    // kernel (graft.functions.CentroidArgmax), so generated-code size is
    // independent of nlist — production nlist in the thousands cannot
    // blow the 64KB method limit the old per-centroid-literal tree hit.
    // Ties break to the smallest cluster id (≡ ORDER BY cs DESC, cluster
    // in the oracle).
    import graft.functions.CentroidExprs.{centroid_argmax, centroid_topn}
    val assigned = emb.select(col("vec_id"), col("embedding"),
      centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"))
    // each query's nprobe best cells: row-local top-n of the same scores
    val queryCells = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        explode(centroid_topn(col("embedding"), centMatrix, nprobe)).as("cell"))
      .select(col("q_id"), col("qa"), col("cell.cluster").as("cluster"))
    // candidates = members of the probed cells; exact cosine rerank
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    assigned.select(col("vec_id").as("nb_id"), col("embedding").as("ea"), col("cluster"))
      .join(broadcast(queryCells), Seq("cluster"))
      .filter(col("nb_id") =!= col("q_id"))
      .withColumn("cos", cosine("qa", "ea"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 4).as("cs"), col("rnk").cast("long").as("rnk"))
  }

  /** Metadata-FILTERED ANN (s18) — the vector-DB serving shape [[annIvf]]
    * alone can't express: top-`k` restricted to corpus vectors satisfying
    * a metadata predicate (here: the query's own `label` — "nearest
    * same-class neighbors"). The filter applies INSIDE the probed cells
    * BEFORE any cosine is computed (Catalyst pushes the label equi-
    * condition into the cell join), so non-matching members are never
    * scored — pre-filtering, the layout that keeps filtered recall exact,
    * versus post-filtering a top-k which silently under-fills when the
    * predicate is selective. Same IVF machinery otherwise: row-local
    * codegen cell assignment, broadcast query×cell relation, exact
    * rerank over surviving candidates only. */
  def filteredAnn(spark: SparkSession, dir: String, nQueries: Int = 25, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 10): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), nlist)
    dumpCentroids(spark, centMatrix, FilteredCentroidDump)
    import graft.functions.CentroidExprs.{centroid_argmax, centroid_topn}
    val assigned = emb.select(col("vec_id"), col("embedding"), col("label"),
      centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"))
    val queryCells = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"), col("label").as("qlabel"),
        explode(centroid_topn(col("embedding"), centMatrix, nprobe)).as("cell"))
      .select(col("q_id"), col("qa"), col("qlabel"), col("cell.cluster").as("cluster"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    assigned.select(col("vec_id").as("nb_id"), col("embedding").as("ea"),
        col("label"), col("cluster"))
      .join(broadcast(queryCells), Seq("cluster"))
      .filter(col("nb_id") =!= col("q_id") && col("label") === col("qlabel"))
      .withColumn("cos", cosine("qa", "ea"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("qlabel").as("label"), col("nb_id"),
        round(col("cos"), 4).as("cs"), col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB oracle twin of [[filteredAnn]] — [[annIvfOracleSql]]'s replay
    * with the label predicate applied to the candidate set before the
    * rerank, exactly as the engine filters before scoring. */
  def filteredAnnOracleSql(nQueries: Int = 25, k: Int = 5, nprobe: Int = 10): String =
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('$FilteredCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e CROSS JOIN c),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | qc AS (SELECT vec_id AS q_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS crnk
       |          FROM s WHERE vec_id < $nQueries) x WHERE crnk <= $nprobe),
       | cand AS (SELECT qc.q_id, lq.label, a.vec_id AS nb_id
       |          FROM qc JOIN asg a USING (cluster)
       |          JOIN e la ON la.vec_id = a.vec_id
       |          JOIN e lq ON lq.vec_id = qc.q_id
       |          WHERE a.vec_id != qc.q_id AND la.label = lq.label),
       | cd AS (SELECT DISTINCT q_id, label, nb_id FROM cand),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT cd.q_id, cd.label, cd.nb_id,
       |        CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
       |             ELSE list_dot_product(nq.emb, nn.emb) / (nq.nrm * nn.nrm) END AS cos
       |       FROM cd JOIN n nq ON nq.vec_id = cd.q_id JOIN n nn ON nn.vec_id = cd.nb_id),
       | r AS (SELECT q_id, label, nb_id, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM p)
       |SELECT q_id, label, nb_id, cs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  /** DuckDB oracle twin of [[annIvf]]: reads the dumped centroids and
    * replays the max-cosine assignment, the per-query nprobe cell choice,
    * and the exact rerank — every step closed-form given the centroids,
    * with the same double math and tie orders as the Spark plan. */
  def annIvfOracleSql(nQueries: Int = 10, k: Int = 5, nprobe: Int = 10): String =
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('$IvfCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | qc AS (SELECT vec_id AS q_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS crnk
       |          FROM s WHERE vec_id < $nQueries) x WHERE crnk <= $nprobe),
       | cand AS (SELECT qc.q_id, a.vec_id AS nb_id FROM qc JOIN asg a USING (cluster)
       |          WHERE a.vec_id != qc.q_id),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT cand.q_id, cand.nb_id,
       |        CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
       |             ELSE list_dot_product(nq.emb, nn.emb) / (nq.nrm * nn.nrm) END AS cos
       |       FROM cand JOIN n nq ON nq.vec_id = cand.q_id JOIN n nn ON nn.vec_id = cand.nb_id),
       | r AS (SELECT q_id, nb_id, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM p)
       |SELECT q_id, nb_id, cs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  // ---------------- k-means domain clustering ----------------

  /** Per-JVM root for oracle-replay artifacts (fitted centroids). A fresh
    * temp directory per session, so concurrent sessions (or users on a
    * shared host) can never clobber each other's artifact between the Spark
    * write and the DuckDB replay: the oracle SQL embeds this path and is
    * dumped to oracle_sql.json by the SAME JVM that ran the queries
    * (graft.Verify), so the two always agree. */
  lazy val OracleDumpRoot: String =
    java.nio.file.Files.createTempDirectory("graft-oracle-").toString

  /** Where [[kmeansDomains]] dumps its fitted centroids so the oracle can
    * replay the assignment from the same constants. */
  lazy val DomainsCentroidDump: String = s"$OracleDumpRoot/s6_centroids"

  /** Where [[annIvf]] dumps its fitted centroids for [[annIvfOracleSql]]. */
  lazy val IvfCentroidDump: String = s"$OracleDumpRoot/s4_centroids"

  /** Where [[semDedupPrune]] dumps its fitted centroids for the replay
    * oracle. */
  lazy val SemDedupCentroidDump: String = s"$OracleDumpRoot/d9_centroids"

  /** Where [[filteredAnn]] dumps its fitted centroids for the replay
    * oracle. */
  lazy val FilteredCentroidDump: String = s"$OracleDumpRoot/s18_centroids"

  /** Where the most recent [[ivfBalance]] call dumped its fitted centroids
    * — PER-DIR (ADVICE r8: a shared path is a collision when two dirs are
    * gated in one JVM). The oracle def reads this at dump time, in the same
    * JVM, right after the gate ran the query for its one dir, so SQL and
    * artifact always agree — the q33/q36 `dirToken` convention. */
  @volatile private[ops] var BalanceCentroidDump: String = s"$OracleDumpRoot/s22_centroids"

  /** Domain clustering for mixture design: embeddings are clustered with a
    * k-means coarse model (trained on a capped sample, like [[annIvf]]) and
    * every vector is assigned to its max-cosine centroid — the unsupervised
    * domain-labeling step a mixture pipeline runs before choosing sampling
    * weights per domain.
    *
    * Scale shape: training is the only iterative step and is bounded by
    * [[IvfTrainCap]]; assignment inlines the `k` centroids as literals into
    * a row-local `greatest` over score structs — a single map-only pass with
    * ZERO shuffle (no window, no join), the plan a 100 TB assignment wants.
    *
    * Oracle: the training artifact (centroids) is engine-specific, so the
    * fitted centroids are dumped to parquet and DuckDB replays the
    * deterministic argmax assignment from them — same replication-oracle
    * shape as s2's plane literals. Ties break to the smallest cluster id in
    * both engines (struct max on (cs, -cluster) ≡ ORDER BY cs DESC,
    * cluster). */
  def kmeansDomains(spark: SparkSession, dir: String, kClusters: Int = 8): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), kClusters, seed = 11)
    dumpCentroids(spark, centMatrix, DomainsCentroidDump)
    // single codegen'd argmax kernel over the centroid matrix (constant
    // code size in k — see CentroidExprs); bit-identical to the oracle's
    // per-centroid replay, ties to the smallest cluster id
    import graft.functions.CentroidExprs.centroid_argmax
    emb.select(col("vec_id"), centroid_argmax(col("embedding"), centMatrix).as("best"))
      .select(col("vec_id"),
        col("best.cluster").cast(LongType).as("cluster"),
        round(col("best.cs"), 4).as("cs"))
  }

  /** DuckDB oracle twin of [[kmeansDomains]]: reads the dumped centroids and
    * recomputes the max-cosine assignment with the same double math and tie
    * order. */
  def kmeansDomainsOracleSql: String =
    s"""WITH c AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cent
       |           FROM read_parquet('$DomainsCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | best AS (SELECT vec_id, cluster, cs,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk FROM s)
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, round(cs, 4) AS cs
       |FROM best WHERE rnk = 1""".stripMargin

  // ---------------- int8 scalar quantization (SQ8) ----------------

  /** Per-vector symmetric int8 quantization: `code_i = floor(127·x_i/max|x|)`
    * as `array<tinyint>` — 4x smaller than float32 at rest and in shuffle,
    * the standard memory-scale path for a 100 TB embedding store. `floor`
    * (not round) keeps the arithmetic bit-identical in any engine. Cosine
    * needs no dequantization at all: the per-vector scale cancels, so
    * similarity is computed directly on code vectors with the same fused
    * codegen kernel ([[graft.functions.VectorExprs]], which accepts
    * `array<tinyint>`). Quantization itself is a row-local one-time pass
    * (interpreted HOFs are fine there — it's ingest, not the query loop).
    * Zero vectors quantize to all-zero codes (cosine 0 by kernel
    * convention). */
  def sq8Codes(df: DataFrame, embCol: String = "embedding"): DataFrame =
    df.withColumn("__mx",
        expr(s"aggregate($embCol, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"))
      .withColumn("codes",
        expr(s"transform($embCol, x -> CAST(floor(CASE WHEN __mx = 0.0 THEN 0.0 ELSE 127.0 * CAST(x AS DOUBLE) / __mx END) AS TINYINT))"))
      .drop("__mx")

  /** Per-JVM registry of materialized SQ8 code relations (input dir →
    * parquet path). Quantization is INGEST work — at 100 TB the int8 codes
    * live at rest next to the embeddings, maintained by the write path, not
    * recomputed per query — so the first call per input dir pays the
    * one-time row-local [[sq8Codes]] pass and writes `(vec_id, codes)`
    * parquet under [[OracleDumpRoot]]; every subsequent query run (bench
    * repeats included) scans the codes at rest, which is the shape the
    * operator actually has in production. */
  private[graft] val sq8CodeReg =
    graft.core.AtRestRegistry[String]("sim.s5_sq8codes", arity = 1)

  /** Collision-free path token for a per-input-dir artifact: md5 of the
    * full dir string. 32-bit `String.hashCode` can collide across two dirs
    * in one JVM, which would silently serve one corpus's artifact for the
    * other. */
  private[graft] def dirToken(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def sq8CodesAtRest(spark: SparkSession, dir: String): DataFrame = {
    val path = sq8CodeReg.getOrBuild(dir) {
      val p = sq8CodeReg.pathFor(OracleDumpRoot, "s5_codes", dir)
      sq8Codes(t(spark, dir, "embeddings")).select(col("vec_id"), col("codes"))
        .write.mode("overwrite").parquet(p)
      p
    }
    parquet(spark, path)
  }

  /** SQ8 quantization-error report (s26) — the codec ACCEPTANCE eval
    * beside s5's retrieval gate (s11 plays this role for ANN indexes):
    * per dimension, the reconstruction MSE and max absolute error of the
    * symmetric int8 rule (`x̂ = ⌊127·x/max|x|⌋·max|x|/127`) — the number
    * that decides whether int8-at-rest is safe for a given embedding
    * family, and which DIMENSIONS suffer most (heavy-tailed coordinates
    * quantize worst). Row-local quantize→dequantize→error (the codec is
    * deterministic, so no join against the at-rest codes is needed), one
    * map-side-combined fold at dim grain; per-term values round to 8
    * decimals before aggregation (sum via exact DECIMAL, max of rounded
    * DECIMAL terms — both order-insensitive).
    *
    * FINAL rounding is EXACT integer/decimal arithmetic, not
    * `round(double)` (r9): `sq/n` is an exact short rational (a multiple
    * of 1e-8 over a round count), so its 8th-decimal round lands on an
    * exact `…5` TIE with non-negligible probability — and the two engines
    * then disagree: Spark's round goes through the double's SHORTEST
    * DECIMAL REPR (BigDecimal.valueOf → ties round UP), DuckDB rounds the
    * EXACT BINARY value (which sits a hair below or above the tie). At
    * sf0.01, dim 59 hit exactly this: sq/n = 2.365e-6 → Spark 2.37e-6,
    * DuckDB 2.36e-6 — value-equal at 1e-6, formatted-hash different. The
    * fix computes HALF_UP(sq/n, 8) as `(2·sq·1e8 + n) div (2n)` in exact
    * BIGINT on both engines (identical by construction, no double in
    * sight), and max_abs_err as an exact DECIMAL round of the DECIMAL
    * max. */
  def sq8ErrorReport(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    t(spark, dir, "embeddings")
      .withColumn("__mx", expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"))
      .select(col("__mx"), posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("pos").cast(LongType).as("pos"),
        col("v0").cast(DoubleType).as("v"), col("__mx"))
      .withColumn("deq",
        when(col("__mx") === 0.0, lit(0.0))
          .otherwise(floor(lit(127.0) * col("v") / col("__mx")) * col("__mx") / 127.0))
      .withColumn("err", col("v") - col("deq"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("err") * col("err"), 8).cast(dec)).as("sq"),
        max(round(abs(col("err")), 8).cast(dec)).as("mx_err"))
      .select(col("pos"), col("n"),
        expr("CAST((2 * CAST(sq * 100000000 AS BIGINT) + n) DIV (2 * n) AS DOUBLE) / 100000000.0")
          .as("mse"),
        expr("CAST(CAST(round(mx_err, 6) AS DECIMAL(18,6)) AS DOUBLE) + 0.0").as("max_abs_err"))
  }

  /** DuckDB oracle twin of [[sq8ErrorReport]] — same quantization rule,
    * per-term rounding, and folds. */
  def sq8ErrorOracleSql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      | m AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS mx FROM e),
      | d AS (SELECT u.pos AS pos, u.v AS v, mx FROM (
      |        SELECT mx, unnest([{'pos': i - 1, 'v': emb[i]}
      |                           FOR i IN range(1, len(emb) + 1)]) AS u
      |        FROM m)),
      | r AS (SELECT pos, v,
      |        CASE WHEN mx = 0.0 THEN 0.0
      |             ELSE floor(127.0 * v / mx) * mx / 127.0 END AS deq
      |       FROM d),
      | f AS (SELECT pos, count(*) AS n,
      |        sum(CAST(round((v - deq) * (v - deq), 8) AS DECIMAL(18,8))) AS sq,
      |        max(CAST(round(abs(v - deq), 8) AS DECIMAL(18,8))) AS mx_err
      |       FROM r GROUP BY pos)
      |SELECT CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n,
      | CAST((2 * CAST(sq * 100000000 AS BIGINT) + n) // (2 * n) AS DOUBLE) / 100000000.0 AS mse,
      | CAST(CAST(round(mx_err, 6) AS DECIMAL(18,6)) AS DOUBLE) + 0.0 AS max_abs_err
      |FROM f""".stripMargin

  /** Top-k by int8-quantized cosine: the brute-force scan of [[cosineTopK]]
    * run entirely over SQ8 code vectors — same broadcast-queries ×
    * streamed-scan shape, a quarter of the bytes. The code relation is
    * consumed AT REST ([[sq8CodesAtRest]]): quantizing inline per query
    * would put an interpreted HOF pass over the whole corpus inside the
    * measured loop, which is both scale-wrong (quantization is ingest) and
    * variance-amplifying (the r6 bench-suspect root cause). Exactly
    * reproducible in SQL (integer lattice arithmetic), so the driver gate
    * hash-checks it against DuckDB; SimilaritySpec measures agreement with
    * the float ranking. */
  def sq8TopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val coded = sq8CodesAtRest(spark, dir)
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("codes").as("qc"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("qcs").desc, col("nb_id").asc)
    coded.select(col("vec_id").as("nb_id"), col("codes").as("nc"))
      .join(broadcast(q), col("nb_id") =!= col("q_id"))
      .withColumn("qcs", vec_cosine(col("qc"), col("nc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("qcs"), 4).as("qcs"), col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB oracle twin of [[sq8TopK]]: same floor-quantization, same
    * integer-exact cosine, same (qcs DESC, nb_id) rank. */
  def sq8OracleSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | m AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS mx FROM e),
       | c AS (SELECT vec_id, list_transform(emb, x -> floor(CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 * x / mx END)) AS codes FROM m),
       | p AS (SELECT q.vec_id AS q_id, n.vec_id AS nb_id,
       |        CASE WHEN sqrt(list_dot_product(q.codes, q.codes)) * sqrt(list_dot_product(n.codes, n.codes)) = 0 THEN 0.0
       |             ELSE list_dot_product(q.codes, n.codes) /
       |                  (sqrt(list_dot_product(q.codes, q.codes)) * sqrt(list_dot_product(n.codes, n.codes))) END AS qcs
       |       FROM c q JOIN c n ON n.vec_id != q.vec_id WHERE q.vec_id < $nQueries),
       | r AS (SELECT q_id, nb_id, round(qcs, 4) AS qcs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY p.qcs DESC, nb_id) AS rnk FROM p)
       |SELECT q_id, nb_id, qcs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  // ---------------- product quantization (PQ / ADC) ----------------

  val PqSubspaces = 8
  val PqCodes = 16

  /** Where [[pqTopK]] dumps its fitted per-subspace codebooks for the
    * replay oracle. */
  lazy val PqCodebookDump: String = s"$OracleDumpRoot/s7_codebooks"

  /** Product-quantization top-k (asymmetric distance): vectors are encoded
    * as `m` one-byte centroid ids — 8 bytes instead of 256 for a 64-dim
    * float32 vector, the standard 100 TB-scale memory ladder below SQ8's
    * 4× (s5) — and queries score EXACT query × quantized corpus by inner
    * product against the code reconstruction (ADC), so compression costs
    * corpus-side memory only, not query precision.
    *
    * Scale shape: training = `m` independent k-means fits on one capped,
    * materialized sample (bounded driver iteration, like [[annIvf]]);
    * encode = one zero-shuffle map pass with the codebook tensor as a
    * single reference object ([[graft.functions.PqEncode]] — constant
    * codegen size in m·k, same engineering as [[graft.functions.CentroidExprs]]);
    * scoring = broadcast queries × streamed code scan, decode once per
    * corpus row. Production composes this with [[annIvf]]'s cell routing
    * (IVFADC); here the flat scan keeps the oracle exact.
    *
    * Oracle: fitted codebooks are dumped and DuckDB replays encode
    * (three-dot-product distance expansion, associated EXACTLY as the
    * kernel computes it, ties to the smaller code), reconstruction, and
    * ADC scoring from the same constants — see [[pqOracleSql]]. Recall vs
    * the float ranking is spec-measured (SimilaritySpec). */
  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      m: Int = PqSubspaces, nCodes: Int = PqCodes): DataFrame = {
    require(Dim % m == 0, s"dim $Dim not divisible by $m subspaces")
    val emb = t(spark, dir, "embeddings")
    // fit quality only shifts recall; the oracle replays whatever
    // codebooks were fitted
    val cbs = fitPqCodebooks(cappedTrainSample(emb), m, nCodes)
    dumpCodebooks(spark, cbs, PqCodebookDump)
    import graft.functions.PqExprs.{pq_decode, pq_encode}
    // the PQ index: m ints per row after one zero-shuffle encode pass
    val coded = emb.select(col("vec_id").as("nb_id"),
      pq_encode(col("embedding"), cbs).as("codes"))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nb_id").asc)
    coded.join(broadcast(q), col("nb_id") =!= col("q_id"))
      .withColumn("score", vec_dot(col("qa"), pq_decode(col("codes"), cbs)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("score"), 4).as("adc"),
        col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB oracle twin of [[pqTopK]]: reads the dumped codebooks and
    * replays subspace assignment (same distance association, same
    * tie-break), reconstruction (`flatten` in subspace order ≡ the decode
    * kernel's concatenation), and the ADC inner product. */
  def pqOracleSql(nQueries: Int = 10, k: Int = 5, m: Int = PqSubspaces): String = {
    val subDim = Dim / m
    s"""WITH cb AS (SELECT m, code, list_transform(cent, x -> CAST(x AS DOUBLE)) AS cent
       |            FROM read_parquet('$PqCodebookDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | sub AS (SELECT vec_id, r.m AS m, emb[r.m*$subDim+1:r.m*$subDim+$subDim] AS sv
       |         FROM e, range(0, $m) r(m)),
       | d2 AS (SELECT s.vec_id, s.m, c.code,
       |         (list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cent))
       |           + list_dot_product(c.cent, c.cent) AS dist
       |        FROM sub s JOIN cb c ON s.m = c.m),
       | asg AS (SELECT vec_id, m, code FROM (
       |          SELECT vec_id, m, code,
       |                 row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
       |          FROM d2) x WHERE rn = 1),
       | rec AS (SELECT a.vec_id, flatten(list(c.cent ORDER BY a.m)) AS dec
       |         FROM asg a JOIN cb c ON a.m = c.m AND a.code = c.code GROUP BY a.vec_id),
       | p AS (SELECT q.vec_id AS q_id, r.vec_id AS nb_id, list_dot_product(q.emb, r.dec) AS score
       |       FROM e q JOIN rec r ON r.vec_id != q.vec_id WHERE q.vec_id < $nQueries),
       | rk AS (SELECT q_id, nb_id, round(score, 4) AS adc,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nb_id) AS rnk FROM p)
       |SELECT q_id, nb_id, adc, CAST(rnk AS BIGINT) AS rnk FROM rk WHERE rnk <= $k""".stripMargin
  }

  /** Where [[ivfAdcTopK]] dumps its fitted coarse centroids / codebooks. */
  lazy val IvfAdcCentroidDump: String = s"$OracleDumpRoot/s8_centroids"
  lazy val IvfAdcCodebookDump: String = s"$OracleDumpRoot/s8_codebooks"

  /** IVFADC — the production composition the [[annIvf]] and [[pqTopK]]
    * scaladocs both point at, delivered as one operator: a k-means coarse
    * quantizer routes the corpus into `nlist` cells AND every vector is
    * product-quantized to `m` one-byte codes, in the SAME zero-shuffle map
    * pass; a query probes its `nprobe` best cells and reranks only those
    * cells' members by asymmetric distance against the code
    * reconstructions. This is the standard billion-vector serving shape:
    * candidate count bounded by cell routing, memory bounded by PQ
    * compression (8 B/vector here), the full-precision corpus never
    * touched after indexing.
    *
    * Scale shape: coarse + m codebook fits run CONCURRENTLY on one capped,
    * materialized sample; index build is one map pass (both kernels carry
    * their tensors as single codegen reference objects); the only join is
    * the cell equi-join with the broadcast query→cell table.
    *
    * Oracle: both training artifacts dump to parquet and DuckDB replays
    * routing, probe choice, PQ encode, reconstruction, and ADC rerank from
    * the same constants ([[ivfAdcOracleSql]]) — the composition of the s4
    * and s7 replay oracles. */
  def ivfAdcTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      nlist: Int = 16, nprobe: Int = 10, m: Int = PqSubspaces, nCodes: Int = PqCodes): DataFrame = {
    require(Dim % m == 0, s"dim $Dim not divisible by $m subspaces")
    val emb = t(spark, dir, "embeddings")
    // one collected sample feeds both fits — same shared fit definitions
    // as s4 and s7, so the three operators can never drift apart
    val trainEmb = cappedTrainSample(emb)
    val centMatrix = fitCoarseCentroids(trainEmb, nlist)
    val cbs = fitPqCodebooks(trainEmb, m, nCodes)
    dumpCentroids(spark, centMatrix, IvfAdcCentroidDump)
    dumpCodebooks(spark, cbs, IvfAdcCodebookDump)
    import graft.functions.CentroidExprs.{centroid_argmax, centroid_topn}
    import graft.functions.PqExprs.{pq_decode, pq_encode}
    // the index: route + compress in ONE map pass — 4 B cluster + m B codes
    // per vector is all that survives
    val indexed = emb.select(col("vec_id").as("nb_id"),
      centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"),
      pq_encode(col("embedding"), cbs).as("codes"))
    val queryCells = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        explode(centroid_topn(col("embedding"), centMatrix, nprobe)).as("cell"))
      .select(col("q_id"), col("qa"), col("cell.cluster").as("cluster"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("nb_id").asc)
    indexed
      .join(broadcast(queryCells), Seq("cluster"))
      .filter(col("nb_id") =!= col("q_id"))
      .withColumn("adc", vec_dot(col("qa"), pq_decode(col("codes"), cbs)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("adc"), 4).as("adc"),
        col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB oracle twin of [[ivfAdcTopK]] — the s4 routing replay composed
    * with the s7 PQ replay, from the s8 artifact dumps. */
  def ivfAdcOracleSql(nQueries: Int = 10, k: Int = 5, nprobe: Int = 10,
      m: Int = PqSubspaces): String = {
    val subDim = Dim / m
    s"""WITH cc AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cent
       |            FROM read_parquet('$IvfAdcCentroidDump/*.parquet')),
       | cb AS (SELECT m, code, list_transform(cent, x -> CAST(x AS DOUBLE)) AS cent
       |        FROM read_parquet('$IvfAdcCodebookDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, cc),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | qc AS (SELECT vec_id AS q_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS crnk
       |          FROM s WHERE vec_id < $nQueries) x WHERE crnk <= $nprobe),
       | sub AS (SELECT vec_id, r.m AS m, emb[r.m*$subDim+1:r.m*$subDim+$subDim] AS sv
       |         FROM e, range(0, $m) r(m)),
       | d2 AS (SELECT su.vec_id, su.m, c.code,
       |         (list_dot_product(su.sv, su.sv) - 2 * list_dot_product(su.sv, c.cent))
       |           + list_dot_product(c.cent, c.cent) AS dist
       |        FROM sub su JOIN cb c ON su.m = c.m),
       | pasg AS (SELECT vec_id, m, code FROM (
       |           SELECT vec_id, m, code,
       |                  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
       |           FROM d2) x WHERE rn = 1),
       | rec AS (SELECT a.vec_id, flatten(list(c.cent ORDER BY a.m)) AS dec
       |         FROM pasg a JOIN cb c ON a.m = c.m AND a.code = c.code GROUP BY a.vec_id),
       | cand AS (SELECT qc.q_id, a.vec_id AS nb_id FROM qc JOIN asg a USING (cluster)
       |          WHERE a.vec_id != qc.q_id),
       | p AS (SELECT cand.q_id, cand.nb_id, list_dot_product(eq.emb, r.dec) AS score
       |       FROM cand JOIN e eq ON eq.vec_id = cand.q_id JOIN rec r ON r.vec_id = cand.nb_id),
       | rk AS (SELECT q_id, nb_id, round(score, 4) AS adc,
       |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nb_id) AS rnk FROM p)
       |SELECT q_id, nb_id, adc, CAST(rnk AS BIGINT) AS rnk FROM rk WHERE rnk <= $k""".stripMargin
  }

  /** Where [[ivfRefineTopK]] dumps its fitted coarse centroids / codebooks. */
  lazy val IvfRefineCentroidDump: String = s"$OracleDumpRoot/s15_centroids"
  lazy val IvfRefineCodebookDump: String = s"$OracleDumpRoot/s15_codebooks"

  /** IVFADC + EXACT RE-RANK (s15) — the standard production two-stage ANN
    * serve path (FAISS's `IndexRefineFlat` composition): stage 1 is the s8
    * shape (coarse route, nprobe cell equi-join, ADC scoring against the
    * 4 B + m B compressed index) but kept to a SHORTLIST of `shortlist`
    * candidates per query instead of k; stage 2 fetches only the
    * queries×shortlist TRUE vectors by key and re-ranks on exact dot
    * product. Compression makes the scan cheap; the refine step buys back
    * the quantization error where it matters — the final ordering — while
    * touching a candidate set orders of magnitude below the corpus.
    *
    * Scale shape: stage 1 is s8's (equi-joins only, broadcast query cells,
    * per-query WindowGroupLimit top-R); the stage-2 candidate list
    * (queries×shortlist rows) broadcasts against the corpus, so the true
    * vectors are served by an equi-join on the vector key — no second scan
    * ranks the corpus, and only the shortlist's vectors leave it. */
  def ivfRefineTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
      shortlist: Int = 20, nlist: Int = 16, nprobe: Int = 10,
      m: Int = PqSubspaces, nCodes: Int = PqCodes): DataFrame = {
    require(Dim % m == 0, s"dim $Dim not divisible by $m subspaces")
    require(shortlist >= k, "shortlist must cover the final k")
    val emb = t(spark, dir, "embeddings")
    val trainEmb = cappedTrainSample(emb)
    val centMatrix = fitCoarseCentroids(trainEmb, nlist)
    val cbs = fitPqCodebooks(trainEmb, m, nCodes)
    dumpCentroids(spark, centMatrix, IvfRefineCentroidDump)
    dumpCodebooks(spark, cbs, IvfRefineCodebookDump)
    import graft.functions.CentroidExprs.{centroid_argmax, centroid_topn}
    import graft.functions.PqExprs.{pq_decode, pq_encode}
    val indexed = emb.select(col("vec_id").as("nb_id"),
      centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"),
      pq_encode(col("embedding"), cbs).as("codes"))
    val queryCells = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        explode(centroid_topn(col("embedding"), centMatrix, nprobe)).as("cell"))
      .select(col("q_id"), col("qa"), col("cell.cluster").as("cluster"))
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("nb_id").asc)
    val short = indexed
      .join(broadcast(queryCells), Seq("cluster"))
      .filter(col("nb_id") =!= col("q_id"))
      .withColumn("adc", vec_dot(col("qa"), pq_decode(col("codes"), cbs)))
      .withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= shortlist)
      .select(col("q_id"), col("qa"), col("nb_id"))
    val wEx = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nb_id").asc)
    broadcast(short)
      .join(emb.select(col("vec_id").as("nb_id"), col("embedding").as("nba")), Seq("nb_id"))
      .withColumn("score", vec_dot(col("qa"), col("nba")))
      .withColumn("rnk", row_number().over(wEx))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("score"), 4).as("score"),
        col("rnk").cast("long").as("rnk"))
  }

  /** DuckDB oracle twin of [[ivfRefineTopK]] — the s8 replay kept to the
    * shortlist, composed with an exact-dot re-rank over the true vectors. */
  def ivfRefineOracleSql(nQueries: Int = 10, k: Int = 5, shortlist: Int = 20,
      nprobe: Int = 10, m: Int = PqSubspaces): String = {
    val subDim = Dim / m
    s"""WITH cc AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cent
       |            FROM read_parquet('$IvfRefineCentroidDump/*.parquet')),
       | cb AS (SELECT m, code, list_transform(cent, x -> CAST(x AS DOUBLE)) AS cent
       |        FROM read_parquet('$IvfRefineCodebookDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, cc),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | qc AS (SELECT vec_id AS q_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS crnk
       |          FROM s WHERE vec_id < $nQueries) x WHERE crnk <= $nprobe),
       | sub AS (SELECT vec_id, r.m AS m, emb[r.m*$subDim+1:r.m*$subDim+$subDim] AS sv
       |         FROM e, range(0, $m) r(m)),
       | d2 AS (SELECT su.vec_id, su.m, c.code,
       |         (list_dot_product(su.sv, su.sv) - 2 * list_dot_product(su.sv, c.cent))
       |           + list_dot_product(c.cent, c.cent) AS dist
       |        FROM sub su JOIN cb c ON su.m = c.m),
       | pasg AS (SELECT vec_id, m, code FROM (
       |           SELECT vec_id, m, code,
       |                  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
       |           FROM d2) x WHERE rn = 1),
       | rec AS (SELECT a.vec_id, flatten(list(c.cent ORDER BY a.m)) AS dec
       |         FROM pasg a JOIN cb c ON a.m = c.m AND a.code = c.code GROUP BY a.vec_id),
       | cand AS (SELECT qc.q_id, a.vec_id AS nb_id FROM qc JOIN asg a USING (cluster)
       |          WHERE a.vec_id != qc.q_id),
       | p AS (SELECT cand.q_id, cand.nb_id, list_dot_product(eq.emb, r.dec) AS adc
       |       FROM cand JOIN e eq ON eq.vec_id = cand.q_id JOIN rec r ON r.vec_id = cand.nb_id),
       | sh AS (SELECT q_id, nb_id FROM (
       |          SELECT q_id, nb_id, row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, nb_id) AS srnk
       |          FROM p) x WHERE srnk <= $shortlist),
       | ex AS (SELECT sh.q_id, sh.nb_id, list_dot_product(eq.emb, en.emb) AS score
       |        FROM sh JOIN e eq ON eq.vec_id = sh.q_id JOIN e en ON en.vec_id = sh.nb_id),
       | fin AS (SELECT q_id, nb_id, round(score, 4) AS score,
       |          row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nb_id) AS rnk FROM ex)
       |SELECT q_id, nb_id, score, CAST(rnk AS BIGINT) AS rnk FROM fin WHERE rnk <= $k""".stripMargin
  }

  /** DuckDB oracle for [[embeddingDupPairs]]: replicates the deterministic
    * hyperplane bucketing exactly, with the plane constants inlined as
    * DOUBLE literals (shortest-roundtrip formatting, so both engines see
    * bit-identical planes), then the same bucket equi-join, pair dedup,
    * cosine filter, and rounding. This is a golden cross-engine replication
    * — the right oracle shape for an op whose RESULT SET is defined by the
    * (deterministic) LSH candidate structure, not by all-pairs semantics:
    * on this corpus the exact ≥0.2 pair count is ~3.8× the LSH candidate
    * set, so an all-pairs oracle would test a claim the operator does not
    * make. Recall against brute force is measured in SimilaritySpec. */
  def embeddingDupOracleSql(minCos: Double): String = {
    def planeLit(p: Array[Double]): String =
      "[" + p.map(_.toString).mkString(",") + "]::DOUBLE[]"
    val bucketExprs = (0 until Tables).map { t =>
      val bits = (0 until Planes).map { p =>
        s"(CASE WHEN list_dot_product(emb, ${planeLit(planes(t)(p))}) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("\n      + ")
      s"CAST(${t.toLong << 32} AS BIGINT) + $bits"
    }.mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | b AS (SELECT vec_id, unnest([
       |    $bucketExprs]) AS bucket FROM e),
       | cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
       |          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT c.a, c.b, list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm) AS cos
       |       FROM cand c JOIN n na ON na.vec_id = c.a JOIN n nb ON nb.vec_id = c.b)
       |SELECT a, b, round(cos, 4) AS cs FROM p WHERE cos >= $minCos""".stripMargin
  }

  /** DuckDB oracle for [[annLsh]], same replication approach as
    * [[embeddingDupOracleSql]]: the hyperplane buckets, the Hamming-≤2
    * probe expansion, candidate dedup, exact cosine, and the deterministic
    * (cos DESC, nb_id) rank are all reproduced with the plane constants and
    * probe masks inlined as literals. */
  /** The LSH candidate-generation CTE chain (e/b0/cand0/cand/n/p with
    * per-pair exact cosine in `p`) — the ONE SQL replay of
    * [[withBuckets]]+[[probeMasks]] that the s2 and s16 oracles share. */
  private def lshCandSqlCtes(nQueries: Int): String = {
    def planeLit(p: Array[Double]): String =
      "[" + p.map(_.toString).mkString(",") + "]::DOUBLE[]"
    val bucketList = (0 until Tables).map { t =>
      val bits = (0 until Planes).map { p =>
        s"(CASE WHEN list_dot_product(emb, ${planeLit(planes(t)(p))}) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("\n      + ")
      s"CAST(${t.toLong << 32} AS BIGINT) + $bits"
    }.mkString(",\n    ")
    val maskList = probeMasks.map(m => s"CAST($m AS BIGINT)").mkString(", ")
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | b0 AS (SELECT vec_id, [
       |    $bucketList] AS bks FROM e),
       | cand0 AS (SELECT c.vec_id AS nb_id, q.vec_id AS q_id
       |           FROM (SELECT vec_id, unnest(bks) AS bucket FROM b0) c
       |           JOIN (SELECT vec_id, unnest(flatten(list_transform(bks,
       |                   bb -> list_transform([$maskList], m -> xor(bb, m))))) AS bucket
       |                 FROM b0 WHERE vec_id < $nQueries) q USING (bucket)
       |           WHERE c.vec_id != q.vec_id),
       | cand AS (SELECT DISTINCT q_id, nb_id FROM cand0),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT cand.q_id, cand.nb_id,
       |        list_dot_product(nq.emb, nn.emb) / (nq.nrm * nn.nrm) AS cos
       |       FROM cand JOIN n nq ON nq.vec_id = cand.q_id JOIN n nn ON nn.vec_id = cand.nb_id)""".stripMargin
  }

  def annLshOracleSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH ${lshCandSqlCtes(nQueries)},
       | r AS (SELECT q_id, nb_id, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM p)
       |SELECT q_id, nb_id, cs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ `minCos`,
    * found via LSH buckets (same-bucket join). */
  def embeddingDupPairs(spark: SparkSession, dir: String, minCos: Double,
      maxBucketWidth: Int = MaxBucketWidth): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    // slim candidate structure: the bucket self-join and pair dedup shuffle
    // (id, bucket) longs only; embeddings re-enter per surviving pair. The
    // bucketing pass feeds three consumers (hot-bucket agg + both self-join
    // sides), so the two-long relation is materialized once (reliable
    // checkpoint when a dir is set — Tables.materialize) rather than
    // re-evaluating the 48-dot-product scan per consumer.
    val sig = capBuckets(
      materialize(
        withBuckets(emb.select(col("vec_id"), col("embedding")), "embedding")
          .select(col("vec_id"), col("bucket"))),
      maxBucketWidth)
    val candIds = sig.select(col("vec_id").as("a"), col("bucket"))
      .join(sig.select(col("vec_id").as("b"), col("bucket")), Seq("bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b") // union over tables
    candIds
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("qa")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("ea")), Seq("b"))
      .withColumn("cos", cosine("qa", "ea"))
      .filter(col("cos") >= minCos)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cs"))
  }

  /** SEMANTIC decontamination (c32) — the embedding-level eval-leakage
    * screen modern pipelines run NEXT TO the n-gram one (c3/c18 catch
    * verbatim and fuzzy text overlap; a paraphrased or translated
    * benchmark item shares no n-grams but lands next to the eval item in
    * embedding space): every corpus vector whose cosine to ANY eval-set
    * vector (the `vec_id % 50 == 0` split — the d7 delta convention)
    * reaches `minCos` is flagged, with its hit count and worst offender.
    * The flagged list is what a release drops or quarantines.
    *
    * Scale shape: the corpus side is the s2 LSH bucket relation — AT
    * 100 TB it is the standing index, bucketed at rest — and the eval
    * side is tiny (broadcast); candidates come from the bucket equi-join
    * (never corpus × eval), verified by exact cosine, and the per-doc
    * fold is one window over the flagged candidates (rank + count share
    * the partition, one exchange). Same candidate-generation contract as
    * s21: the oracle replays the bucket join verbatim, so recall is
    * gated, not assumed. */
  def semanticDecontam(spark: SparkSession, dir: String, minCos: Double = 0.2,
      evalMod: Int = 50): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val sig = capBucketsOrFail(
      materialize(
        withBuckets(emb.select(col("vec_id"), col("embedding")), "embedding")
          .select(col("vec_id"), col("bucket"))),
      MaxBucketWidth)
    val evalSide = sig.filter(pmod(col("vec_id"), lit(evalMod)) === 0)
      .select(col("vec_id").as("eval_id"), col("bucket"))
    val trainSide = sig.filter(pmod(col("vec_id"), lit(evalMod)) =!= 0)
      .select(col("vec_id").as("train_id"), col("bucket"))
    val cand = trainSide.join(broadcast(evalSide), Seq("bucket"))
      .select(col("train_id"), col("eval_id")).dropDuplicates("train_id", "eval_id")
    val w = Window.partitionBy(col("train_id"))
    val scored = cand
      .join(emb.select(col("vec_id").as("train_id"), col("embedding").as("te")), Seq("train_id"))
      .join(broadcast(emb.filter(pmod(col("vec_id"), lit(evalMod)) === 0)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ee"))), Seq("eval_id"))
      .withColumn("cos", cosine("te", "ee"))
      .filter(col("cos") >= minCos)
    scored
      .withColumn("n_eval_hits", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(w.orderBy(col("cos").desc, col("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("train_id"), col("n_eval_hits"), col("eval_id").as("worst_eval"),
        round(col("cos"), 4).as("cs"))
  }

  /** DuckDB oracle twin of [[semanticDecontam]] — the s21-style bucket
    * replay (plane constants inlined), the same split, exact-cosine
    * verification, and the same per-doc fold. */
  def semanticDecontamOracleSql(minCos: Double = 0.2, evalMod: Int = 50): String = {
    def planeLit(p: Array[Double]): String =
      "[" + p.map(_.toString).mkString(",") + "]::DOUBLE[]"
    val bucketExprs = (0 until Tables).map { t =>
      val bits = (0 until Planes).map { p =>
        s"(CASE WHEN list_dot_product(emb, ${planeLit(planes(t)(p))}) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("\n      + ")
      s"CAST(${t.toLong << 32} AS BIGINT) + $bits"
    }.mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | b AS (SELECT vec_id, unnest([
       |    $bucketExprs]) AS bucket FROM e),
       | cand AS (SELECT DISTINCT t.vec_id AS train_id, q.vec_id AS eval_id
       |          FROM b t JOIN b q USING (bucket)
       |          WHERE t.vec_id % $evalMod != 0 AND q.vec_id % $evalMod = 0),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT c.train_id, c.eval_id,
       |        list_dot_product(nt.emb, ne.emb) / (nt.nrm * ne.nrm) AS cos
       |       FROM cand c JOIN n nt ON nt.vec_id = c.train_id
       |       JOIN n ne ON ne.vec_id = c.eval_id),
       | f AS (SELECT train_id, eval_id, cos,
       |        count(*) OVER (PARTITION BY train_id) AS n_eval_hits,
       |        row_number() OVER (PARTITION BY train_id ORDER BY cos DESC, eval_id) AS rn
       |       FROM p WHERE cos >= $minCos)
       |SELECT train_id, CAST(n_eval_hits AS BIGINT) AS n_eval_hits,
       | eval_id AS worst_eval, round(cos, 4) AS cs
       |FROM f WHERE rn = 1""".stripMargin
  }

  /** IVF cell-balance diagnostic (s22) — the index-health measurement
    * that DECIDES nlist and flags a degenerate fit (q32's role, for ANN):
    * per cell, the member count, corpus share, and load factor
    * (count × nlist / N — 1.0 is perfectly balanced; a hot cell's factor
    * is its probe-cost multiplier, an EMPTY cell is wasted nlist).
    * Empty cells are reported as explicit zero rows (the q31 gap
    * principle — the gap IS the finding), via a left join from the dumped
    * centroid relation.
    *
    * Scale shape: one codegen argmax assignment pass (the s4 kernel —
    * generated-code size independent of nlist), one map-side-combined
    * count at cell grain, and the share/load arithmetic on the nlist-row
    * relation; the one-row total is a broadcast. Vectors never shuffle. */
  def ivfBalance(spark: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    import graft.functions.CentroidExprs.centroid_argmax
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), nlist)
    BalanceCentroidDump = s"$OracleDumpRoot/s22_centroids_${dirToken(dir)}"
    dumpCentroids(spark, centMatrix, BalanceCentroidDump)
    val counts = emb
      .select(centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("tot"))
    parquet(spark, BalanceCentroidDump).select(col("cluster"))
      .join(counts, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .select(col("cluster").cast(LongType).as("cluster"), col("n_vecs"),
        round(col("n_vecs").cast(DoubleType) / col("tot"), 4).as("share"),
        round(col("n_vecs").cast(DoubleType) * nlist / col("tot"), 4).as("load_factor"))
  }

  /** DuckDB oracle twin of [[ivfBalance]] — assignment replayed from the
    * dumped centroids (the s4 convention), zero-filled via the same left
    * join, same share/load arithmetic. */
  def ivfBalanceOracleSql(nlist: Int = 16): String =
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('$BalanceCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | k AS (SELECT cluster, count(*) AS n_vecs FROM asg GROUP BY cluster),
       | t AS (SELECT sum(n_vecs) AS tot FROM k)
       |SELECT CAST(c.cluster AS BIGINT) AS cluster,
       | CAST(coalesce(k.n_vecs, 0) AS BIGINT) AS n_vecs,
       | round(CAST(coalesce(k.n_vecs, 0) AS DOUBLE) / t.tot, 4) AS share,
       | round(CAST(coalesce(k.n_vecs, 0) AS DOUBLE) * $nlist / t.tot, 4) AS load_factor
       |FROM c LEFT JOIN k ON c.cluster = k.cluster, t""".stripMargin

  /** Embedding whitening (s23) — APPLYING the s20 fit: every vector is
    * mean-centered and variance-normalized per coordinate,
    * `w_i = (x_i − μ_i) / max(σ_i, ε)` — the standard preprocessing
    * before PCA/linear probes, and the fix for the mean-offset /
    * scale-imbalance pathologies s20 detects. The gate emits per-vector
    * QC of the WHITENED vectors (dim count, L2 norm, max |w|): a vector
    * of per-dim z-scores whose norm² ≈ nDims is the expected signature,
    * so a wrong μ/σ application shifts every row.
    *
    * Scale shape: the fit is the s20 relation (dim-grain, rounded to the
    * gate's own 4-decimal constants — fit and application share ONE
    * artifact cross-engine); it broadcasts onto the posexploded corpus
    * and the per-vector fold is map-side combined with the s10 decimal
    * discipline (each w² rounds to DECIMAL(18,8) before summing, so
    * partial order can't move the hash). */
  def whitenQc(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val fit = dimStats(spark, dir).select(col("pos"), col("mean"), col("std"))
    val d = t(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("vec_id"), col("pos").cast(LongType).as("pos"),
        col("v0").cast(DoubleType).as("v"))
    d.join(broadcast(fit), Seq("pos"))
      .withColumn("w", (col("v") - col("mean")) / greatest(col("std"), lit(1e-6)))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("nd"),
        sum(round(col("w") * col("w"), 8).cast(dec)).as("sq"),
        max(abs(col("w"))).as("mx"))
      .select(col("vec_id"), col("nd"),
        round(sqrt(col("sq").cast(DoubleType)), 4).as("wnorm"),
        round(col("mx"), 4).as("wmax"))
  }

  /** DuckDB oracle twin of [[whitenQc]] — the s20 fit CTE feeding the
    * same application expression, decimal fold, and finals. */
  def whitenQcOracleSql: String =
    s"""WITH fit AS (${dimStatsOracleSql.replace("\n", "\n      ")}),
       | d AS (SELECT vec_id, u.pos AS pos, CAST(u.v AS DOUBLE) AS v FROM (
       |        SELECT vec_id, unnest([{'pos': i - 1, 'v': embedding[i]}
       |                               FOR i IN range(1, len(embedding) + 1)]) AS u
       |        FROM embeddings)),
       | w AS (SELECT d.vec_id, (d.v - fit.mean) / greatest(fit.std, 1e-6) AS w
       |       FROM d JOIN fit ON d.pos = fit.pos),
       | f AS (SELECT vec_id, count(*) AS nd,
       |        sum(CAST(round(w * w, 8) AS DECIMAL(18,8))) AS sq,
       |        max(abs(w)) AS mx
       |       FROM w GROUP BY vec_id)
       |SELECT vec_id, CAST(nd AS BIGINT) AS nd,
       | round(sqrt(CAST(sq AS DOUBLE)), 4) AS wnorm,
       | round(mx, 4) AS wmax
       |FROM f""".stripMargin

  /** Distributed covariance matrix (s24) — the PCA / whitening-fit
    * primitive: the upper triangle of the mean-centered coordinate
    * covariance, with μ from the s20 fit (one shared artifact across
    * s20/s23/s24). The diagonal reproduces s20's variances (spec-pinned);
    * off-diagonal structure is what a PCA rotation or ZCA whitening
    * consumes.
    *
    * RAW-MOMENT form (r9): `cov(i,j) = Σ x_i·x_j / n − μ_i·μ_j`. Each
    * coordinate rounds to DECIMAL(18,8) ONCE per row (dim rounds, not
    * dim²/2 — `round(double)` is the expensive BigDecimal path), then the
    * dim²/2 upper-triangle terms are EXACT decimal products, summed
    * exactly at (i, j) grain; the sum rounds back to scale 8 once per
    * output cell, and the final double expression `S/n − μ_i·μ_j` is
    * identical IEEE ops in both engines. `+ 0.0` normalizes the signed
    * zero a rounded centered quantity can produce (r8: DuckDB round kept
    * −0.0 at cell (5,9) where Spark's BigDecimal HALF_UP has no signed
    * zero — value-equal, hash-different).
    *
    * UNSCALED-LONG kernel (r12): the decimal algebra above is carried on
    * int64 in the hot path — each coordinate becomes its exact unscaled
    * long `u = round(x,8)·1e8` (one decimal op per coordinate), a term is
    * the plain long product `uᵢ·uⱼ` (the exact unscaled value of the
    * DECIMAL(18,8)² product at scale 16), and since Σ terms can exceed
    * int64, each term splits into exact base-1e9 limbs
    * `t = (t div 1e9)·1e9 + (t % 1e9)` (truncating div identity, sign
    * carried by both limbs) whose two LONG sums commute with the split.
    * The whole per-row pipeline — products, limbs, map-side combine — is
    * codegen'd long arithmetic; the r9 form paid a precision-37 BigDecimal
    * multiply per term (2 080 per row), which was the entire s24 cost. The
    * cell grain (dim²/2 rows) reassembles the exact sum as
    * DECIMAL(38,0) = sh·1e9 + sl, applies HALF_UP at scale 8 by integer
    * shift (±5e7, integral div 1e8 — truncation toward zero makes it
    * half-away-from-zero, matching BigDecimal/DuckDB), and
    * `CAST(K AS DOUBLE)/1e8` is the correctly-rounded decimal→double cast
    * both engines perform (K exact in double under the bounds below, 1e8
    * exactly representable, one IEEE division).
    *
    * Scale shape: the μ fit is dim-grain metadata inlined as a literal, so
    * every vector emits its terms ROW-LOCALLY (no self-join, no second
    * scan) and they reduce map-side-combined at (i, j) grain — the
    * exchange carries dim²/2 long partials per partition, never vectors.
    * Exactness bounds: |coordinate| < 10 keeps |u| ≤ 1e9 and each product
    * ≤ 1e18 inside int64; each limb sum holds ~9e9 rows per cell before
    * nearing int64 (same order as the r9 DECIMAL(38,16) headroom), and the
    * scale-8 unscaled K stays exact-integer in double (< 2^53) exactly
    * where the r9 decimal→double cast did. It is a FIT job: run once per
    * corpus snapshot (s25 caches and consumes it), not per query. */
  /** Per-JVM registry of the s20 per-dim mean fit (dim-grain metadata,
    * ≤dim doubles per dir) — the centroid-fit discipline: built by the
    * first toucher, reused by every covariance/PCA consumer instead of
    * re-running the fit pass per query. */
  private[graft] val dimMeansReg =
    graft.core.AtRestRegistry[Array[Double]]("sim.dim_means", arity = 1)

  def covarianceMatrix(spark: SparkSession, dir: String): DataFrame = {
    // the μ fit is dim-grain metadata: collected once (like a centroid
    // fit) and inlined as an array literal, so the per-vector pair terms
    // are a ROW-LOCAL explode — no vec-keyed self-join, no second scan;
    // the only exchange is the map-side-combined (i, j) cell reduction
    val means = dimMeansReg.getOrBuild(dir) {
      dimStats(spark, dir).select(col("pos"), col("mean")).collect()
        .sortBy(_.getLong(0)).map(_.getDouble(1))
    }
    val mArr = "array(" + means.map(m => s"CAST($m AS DOUBLE)").mkString(",") + ")"
    val nD = means.length
    val nCells = nD * (nD + 1) / 2
    // triangle-cell coordinates per row-major position, as ONE literal
    // array each (typedlit → a single ArrayData literal node)
    val iIdx = (0 until nD).flatMap(i => (i until nD).map(_ => i.toLong))
    val jIdx = (0 until nD).flatMap(i => (i until nD).map(j => j.toLong))
    import graft.functions.TriangleLimbSumAgg.triangle_limb_sum
    t(spark, dir, "embeddings")
      // exact unscaled longs: round once per coordinate, decimal ×1e8 is
      // exact (integer-valued), the bigint cast loses nothing
      .select(expr(
        "transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE), 8) AS DECIMAL(18,8)) * 100000000 AS BIGINT))")
        .as("u"))
      // r13 opt: the per-vector triangle fold runs INSIDE one typed
      // aggregate (TriangleLimbSumAgg — a tight JVM loop over a primitive
      // limb buffer) instead of exploding dim·(dim+1)/2 struct rows per
      // vector into an (i, j)-keyed hash aggregate: identical long limb
      // sums (addition commutes), but zero generator rows, zero hash-map
      // probes, and the exchange carries one buffer per partition, not
      // per-cell partials. The r12 form moved ~2 080 rows per vector
      // through Generate+HashAggregate — the entire s24 hot-path cost.
      // `n` comes from the aggregate's own row counter (last buffer slot,
      // ADVICE r13): a row the fold skips (null element) is excluded from
      // n and the sums CONSISTENTLY, where the old separate `count(u)`
      // counted it; and an empty embeddings table (n = 0) yields no rows,
      // like the pre-r13 groupBy form, instead of nCells 0/0 cells.
      .agg(triangle_limb_sum(col("u"), nD).as("s"))
      .select(element_at(col("s"), 2 * nCells + 1).as("n"), posexplode(expr(
        s"""transform(sequence(0, ${nCells - 1}), p ->
           |  struct(element_at(s, 2 * p + 1) AS sh, element_at(s, 2 * p + 2) AS sl))""".stripMargin)))
      .filter(col("n") > 0)
      .select(element_at(typedlit(iIdx), col("pos") + 1).as("i"),
        element_at(typedlit(jIdx), col("pos") + 1).as("j"),
        col("n"), col("col.sh").as("sh"), col("col.sl").as("sl"))
      // cell grain (dim²/2 rows): exact Σ as DECIMAL(38,0), HALF_UP to
      // scale 8 by integer shift, then the one correctly-rounded
      // decimal→double division — bit-identical to the r9 decimal path
      .withColumn("nr", expr("CAST(sh AS DECIMAL(38,0)) * 1000000000 + sl"))
      .withColumn("k", expr(
        "(nr + (CASE WHEN nr >= 0 THEN 50000000 ELSE -50000000 END)) div 100000000"))
      .select(col("i"), col("j"),
        (round(expr("CAST(k AS DOUBLE) / 1.0E8") / col("n")
          - expr(s"element_at($mArr, CAST(i + 1 AS INT)) * element_at($mArr, CAST(j + 1 AS INT))"),
          6) + lit(0.0)).as("cov"))
  }

  /** DuckDB oracle twin of [[covarianceMatrix]] — the s20 fit CTE, the
    * same once-per-coordinate rounding, exact decimal raw-moment products,
    * and the same final double expression (μ from the fit CTE equals the
    * inlined literal: both are the engines' gate-equal round(mean, 4)). */
  def covarianceOracleSql: String =
    s"""WITH fit AS (${dimStatsOracleSql.replace("\n", "\n      ")}),
       | rd AS (SELECT vec_id, u.pos AS pos,
       |         CAST(round(CAST(u.v AS DOUBLE), 8) AS DECIMAL(18,8)) AS rv FROM (
       |        SELECT vec_id, unnest([{'pos': i - 1, 'v': embedding[i]}
       |                               FOR i IN range(1, len(embedding) + 1)]) AS u
       |        FROM embeddings)),
       | p AS (SELECT a.pos AS i, b.pos AS j, a.rv * b.rv AS term
       |       FROM rd a JOIN rd b ON a.vec_id = b.vec_id AND a.pos <= b.pos),
       | g AS (SELECT i, j, count(*) AS n, sum(term) AS s FROM p GROUP BY i, j)
       |SELECT CAST(g.i AS BIGINT) AS i, CAST(g.j AS BIGINT) AS j,
       | round(CAST(CAST(round(g.s, 8) AS DECIMAL(18,8)) AS DOUBLE) / g.n
       |   - fi.mean * fj.mean, 6) + 0.0 AS cov
       |FROM g JOIN fit fi ON g.i = fi.pos JOIN fit fj ON g.j = fj.pos""".stripMargin

  /** Where the most recent [[pcaProject]] call dumped its fitted principal
    * component — PER-DIR (ADVICE r8: the old single global path let a
    * second dataset's fit overwrite the first's replay artifact while the
    * first's CACHED fit kept serving projections, so the oracle would read
    * the wrong component). The oracle def reads this at dump time, in the
    * same JVM, right after the gate ran the query for its one dir — the
    * q33/q36 `dirToken` convention. */
  @volatile private[graft] var PcaDump: String = s"$OracleDumpRoot/s25_pc1"

  /** PCA first-component projection (s25) — completing the spectral
    * pipeline (s20 per-dim fit → s24 covariance → s25 rotation): the top
    * eigenvector of the s24 covariance is found by POWER ITERATION on the
    * driver — the matrix is dim², metadata-scale, exactly like a k-means
    * centroid fit (the s4/s6 convention: tiny iterative fits run where
    * they're cheap; the CORPUS-scale work stays distributed) — and every
    * vector projects onto it row-locally. Sign is fixed (first
    * largest-|w| component positive) so the fit is deterministic; the
    * dumped component is the oracle's replay artifact.
    *
    * Output: per-vector PC1 score plus the component's explained-variance
    * share — the "how much does one direction dominate" health number an
    * embedding audit reads (a collapsed encoder shows share → 1).
    * Scale shape: the projection is one broadcast-fit map pass over the
    * corpus; per-vector dot terms round to DECIMAL(18,8) (the s10
    * discipline). */
  /** Once-per-JVM PCA fit registry: (component, means) per dir — the fit
    * (one covariance job + a driver-side 64×64 power iteration) runs
    * once, later calls only pay the projection scan. */
  private[graft] val pcaFitReg =
    graft.core.AtRestRegistry[(Array[Double], Array[Double])]("sim.s25_pcafit", arity = 1)

  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    // per-dir artifact + per-dir cache: a cache HIT must also repoint the
    // oracle's replay path at THIS dir's dump (ADVICE r8)
    val dump = s"$OracleDumpRoot/s25_pc1_${dirToken(dir)}"
    PcaDump = dump
    val (w, means) = pcaFitReg.getOrBuild(dir) {
      val cells = covarianceMatrix(spark, dir).collect()
        .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getDouble(2)).toMap
      val nDim = Dim
      val cov = Array.tabulate(nDim, nDim)((i, j) =>
        cells.getOrElse((math.min(i, j), math.max(i, j)), 0.0))
      var w0 = Array.fill(nDim)(1.0 / math.sqrt(nDim))
      var lambda = 0.0
      var it = 0
      while (it < 100) {
        val nw = Array.tabulate(nDim)(i => (0 until nDim).map(j => cov(i)(j) * w0(j)).sum)
        lambda = math.sqrt(nw.map(x => x * x).sum)
        w0 = nw.map(_ / lambda)
        it += 1
      }
      // deterministic sign: the largest-|w| coordinate is positive
      val pivot = w0.indices.maxBy(i => (math.abs(w0(i)), -i))
      if (w0(pivot) < 0) w0 = w0.map(-_)
      lastEvShare = lambda / (0 until nDim).map(i => cov(i)(i)).sum
      val wr = w0.map(v => math.rint(v * 1e8) / 1e8)
      import spark.implicits._
      wr.zipWithIndex.map { case (v, p) => (p.toLong, v) }.toSeq
        .toDF("pos", "w").coalesce(1).write.mode("overwrite").parquet(dump)
      val ms = dimStats(spark, dir).select(col("pos"), col("mean")).collect()
        .sortBy(_.getLong(0)).map(_.getDouble(1))
      (wr, ms)
    }
    // projection: both fits inlined as array literals → one ROW-LOCAL map
    // pass, zero shuffle, zero joins (the s4 centroid-literal pattern)
    val mArr = "array(" + means.map(m => s"CAST($m AS DOUBLE)").mkString(",") + ")"
    val wArr = "array(" + w.map(v => s"CAST($v AS DOUBLE)").mkString(",") + ")"
    t(spark, dir, "embeddings").select(col("vec_id"),
      expr(
        s"""round(CAST(aggregate(
           |  zip_with(zip_with(embedding, $mArr, (x, m) -> CAST(x AS DOUBLE) - m),
           |           $wArr, (c, w) -> CAST(round(c * w, 8) AS DECIMAL(18,8))),
           |  CAST(0 AS DECIMAL(28,8)),
           |  (acc, t) -> CAST(acc + t AS DECIMAL(28,8))) AS DOUBLE), 4)""".stripMargin)
        .as("pc1"))
  }

  /** The last [[pcaProject]] fit's explained-variance share (λ₁ / trace) —
    * the "one direction dominates" audit number, exposed for the spec
    * (kept out of the gated row so no cross-engine float-order hazard
    * rides on an eigenvalue). */
  @volatile private[ops] var lastEvShare: Double = 0.0

  /** DuckDB oracle twin of [[pcaProject]] — the projection replayed from
    * the DUMPED component (the centroid-dump convention) with the s20
    * means and the same decimal terms. */
  def pcaProjectOracleSql: String =
    s"""WITH fit AS (${dimStatsOracleSql.replace("\n", "\n      ")}),
       | pc AS (SELECT pos, w FROM read_parquet('$PcaDump/*.parquet')),
       | d AS (SELECT vec_id, u.pos AS pos, CAST(u.v AS DOUBLE) AS v FROM (
       |        SELECT vec_id, unnest([{'pos': i - 1, 'v': embedding[i]}
       |                               FOR i IN range(1, len(embedding) + 1)]) AS u
       |        FROM embeddings))
       |SELECT d.vec_id,
       | round(CAST(sum(CAST(round((d.v - fit.mean) * pc.w, 8) AS DECIMAL(18,8))) AS DOUBLE), 4) AS pc1
       |FROM d JOIN fit ON d.pos = fit.pos JOIN pc ON d.pos = pc.pos
       |GROUP BY d.vec_id""".stripMargin

  /** k-NN graph construction (s21) — top-k cosine neighbors for EVERY
    * corpus vector (directed edges), the build step graph-based methods
    * consume: SemDeDup++-style agglomeration, label propagation over
    * embeddings, graph-ANN entry points, kNN-classifier serving. Distinct
    * from s3 (THRESHOLD pairs) and s2 (a bounded query set): here the
    * query side IS the whole corpus, so candidate generation must stay
    * index-bounded — the same multiprobe-free sign-bucket join as s3
    * (union over [[Tables]] hash tables, hot buckets capped), then exact
    * cosine over candidates only and a per-source rank window. The
    * `rnk ≤ k` filter pushes into the exchange as WindowGroupLimit (the
    * q29 shape): each partition keeps k candidates per source during the
    * shuffle, so the window never sorts whole candidate groups.
    *
    * Scale shape: the bucket relation shuffles two longs per (vector ×
    * table); candidate pairs are bucket-join-bounded; embeddings re-enter
    * per candidate only (the s3 pattern). Recall is the LSH coverage the
    * s11 eval measures — a vector with NO bucket-mate simply has no edges
    * (isolated nodes are legitimate in a kNN-from-index graph). */
  def knnGraph(spark: SparkSession, dir: String, k: Int = 3,
      maxBucketWidth: Int = MaxBucketWidth): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(spark, dir, "embeddings")
    val sig = capBuckets(
      materialize(
        withBuckets(emb.select(col("vec_id"), col("embedding")), "embedding")
          .select(col("vec_id"), col("bucket"))),
      maxBucketWidth)
    val cand = sig.select(col("vec_id").as("src"), col("bucket"))
      .join(sig.select(col("vec_id").as("nb"), col("bucket")), Seq("bucket"))
      .filter(col("src") =!= col("nb"))
      .select(col("src"), col("nb"))
      .dropDuplicates("src", "nb") // union over tables
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nb"))
    cand
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("es")), Seq("src"))
      .join(emb.select(col("vec_id").as("nb"), col("embedding").as("en")), Seq("nb"))
      .withColumn("cos", cosine("es", "en"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("src"), col("nb"), round(col("cos"), 4).as("cs"), col("rnk"))
  }

  /** Per-JVM registry of the at-rest kNN graph per (dir, k) — the r11
    * nearDupPairsAtRest pattern applied to the similarity family's shared
    * artifact: a production embedding pipeline MAINTAINS the kNN graph
    * (built/refreshed at ingest, the index-side twin of the dedup pair
    * relation); analytics over it (s33 NN-descent, s36 label propagation,
    * s37 confusion) read the graph at rest, they never re-bucket the
    * corpus. First toucher in the JVM executes the real LSH-bucketed
    * build ([[knnGraph]] — so the gate still exercises it every round)
    * and dumps; everyone after reads parquet. */
  private[graft] val knnGraphReg =
    graft.core.AtRestRegistry[String]("sim.s21_knngraph", arity = 2)

  /** The at-rest s21 kNN-graph relation (src, nb, cs, rnk) for `dir`. */
  def knnGraphAtRest(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val path = knnGraphReg.getOrBuild(dir, k) {
      val p = knnGraphReg.pathFor(OracleDumpRoot, "knn_graph", dir, k)
      knnGraph(spark, dir, k).write.mode("overwrite").parquet(p)
      p
    }
    parquet(spark, path)
  }

  /** DuckDB oracle twin of [[knnGraph]] — the same sign-bucket candidate
    * join (plane constants inlined), directed, with the same exact-cosine
    * rank and tie order. */
  def knnGraphOracleSql(k: Int = 3): String = {
    def planeLit(p: Array[Double]): String =
      "[" + p.map(_.toString).mkString(",") + "]::DOUBLE[]"
    val bucketExprs = (0 until Tables).map { t =>
      val bits = (0 until Planes).map { p =>
        s"(CASE WHEN list_dot_product(emb, ${planeLit(planes(t)(p))}) > 0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString("\n      + ")
      s"CAST(${t.toLong << 32} AS BIGINT) + $bits"
    }.mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | b AS (SELECT vec_id, unnest([
       |    $bucketExprs]) AS bucket FROM e),
       | cand AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS nb
       |          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id != y.vec_id),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT c.src, c.nb,
       |        list_dot_product(ns.emb, nn.emb) / (ns.nrm * nn.nrm) AS cos
       |       FROM cand c JOIN n ns ON ns.vec_id = c.src JOIN n nn ON nn.vec_id = c.nb),
       | r AS (SELECT src, nb, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY src ORDER BY cos DESC, nb) AS rnk FROM p)
       |SELECT src, nb, cs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin
  }

  /** Per-label mean-embedding class centroids — the nearest-class-mean
    * prototype pass a pipeline runs to audit embedding quality and to seed
    * classifiers/routers. Declarative two-level aggregation: `posexplode`
    * to (label, dim) grain, a map-side-combined sum per cell, then one tiny
    * per-label reassembly — at 100 TB the wide exchange carries only
    * (label × dim) partial sums, never vectors, and no stage collects or
    * crosses rows. Elements round to 8 decimals and sum as EXACT decimals
    * (order-insensitive cross-engine — see [[centroidCells]]); per-cell
    * counts ride alongside so the division is by each cell's own
    * contributor count. */
  /** The shared (label, dim)-grain cell relation: each element rounds to 8
    * decimals and sums as an EXACT decimal (the t12 pattern — double sums
    * are partial-aggregation-order-dependent, so the repo's cross-engine
    * sum discipline demands decimals), with the per-cell contributor count
    * carried alongside so division is always by the cell's own count (exact
    * even on ragged inputs). */
  private def centroidCells(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v").cast(DoubleType), 8).cast(DecimalType(18, 8))).as("s"),
        count(lit(1)).as("cnt"))

  def classCentroids(spark: SparkSession, dir: String): DataFrame =
    centroidCells(spark, dir).groupBy(col("label"))
      .agg(max(col("cnt")).as("n_vecs"),
        array_sort(collect_list(struct(col("pos"), col("s"), col("cnt")))).as("ps"))
      .select(col("label"), col("n_vecs"),
        transform(col("ps"), x =>
          round(x.getField("s").cast(DoubleType) / x.getField("cnt"), 4)).as("centroid"))

  /** [[classCentroids]] at (label, dim) grain for the gate: the driver's
    * value hash is defined over scalar columns, not arrays. */
  def classCentroidCells(spark: SparkSession, dir: String): DataFrame =
    centroidCells(spark, dir)
      .select(col("label"), col("cnt").cast(LongType).as("n_vecs"),
        col("pos").cast(LongType).as("pos"),
        round(col("s").cast(DoubleType) / col("cnt"), 4).as("mean"))

  /** DuckDB oracle twin of [[classCentroidCells]]: the same rounded-element
    * exact-decimal sums and per-cell rounded division. */
  def classCentroidsOracleSql: String =
    """WITH d AS (SELECT label, u.pos AS pos, CAST(u.v AS DOUBLE) AS v FROM (
      |            SELECT label, unnest([{'pos': i - 1, 'v': embedding[i]}
      |                                  FOR i IN range(1, len(embedding) + 1)]) AS u
      |            FROM embeddings)),
      | s AS (SELECT label, pos, sum(CAST(round(v, 8) AS DECIMAL(18,8))) AS s, count(*) AS cnt
      |       FROM d GROUP BY 1, 2)
      |SELECT label, CAST(cnt AS BIGINT) AS n_vecs, CAST(pos AS BIGINT) AS pos,
      | round(CAST(s AS DOUBLE) / cnt, 4) AS mean
      |FROM s""".stripMargin

  /** Semantic deduplication (the SemDeDup shape, Abbas et al. 2023,
    * arXiv:2303.09540): embeddings are k-means-clustered and near-duplicate
    * pruning runs WITHIN clusters only — each vector whose cosine to a
    * lower-id cluster-mate reaches `minCos` is pruned, keeping its
    * highest-cosine such mate as the keeper (ties to the smallest id).
    * Unlike [[embeddingDupPairs]] (LSH-bucketed exact near-dup pairs), this
    * is the curation form: cluster membership bounds the quadratic term, so
    * at 100 TB `kClusters` scales with the corpus to hold cluster sizes
    * roughly constant and the pair join never goes corpus-wide.
    *
    * Scale shape: one k-means fit on a capped sample (corpus-size-
    * independent), one codegen'd argmax assignment pass, then a cluster-
    * keyed self-join over a SLIM (id, cluster) relation materialized once —
    * embeddings re-enter per surviving candidate pair only (the
    * [[embeddingDupPairs]] pattern). The keeper choice is a per-pruned-id
    * window over candidate rows, not a corpus-wide sort.
    *
    * Oracle: like [[kmeansDomains]], the fitted centroids are dumped and
    * DuckDB replays assignment + within-cluster pairing + keeper choice
    * from the same constants with the same double math and tie orders. */
  def semDedupPrune(spark: SparkSession, dir: String, minCos: Double = 0.4,
      kClusters: Int = 8): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), kClusters, seed = 13)
    dumpCentroids(spark, centMatrix, SemDedupCentroidDump)
    import graft.functions.CentroidExprs.centroid_argmax
    // slim assignment relation: the cluster self-join shuffles two longs per
    // row; it feeds both join sides, so it is materialized once
    val assigned = materialize(
      emb.select(col("vec_id"),
        centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster")))
    val pairs = assigned.select(col("vec_id").as("a"), col("cluster"))
      .join(assigned.select(col("vec_id").as("b"), col("cluster")), Seq("cluster"))
      .filter(col("a") > col("b")) // a = prune candidate, b = keeper candidate
    val scored = pairs
      .join(emb.select(col("vec_id").as("a"), col("embedding").as("qa")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("embedding").as("ea")), Seq("b"))
      .withColumn("cos", cosine("qa", "ea"))
      .filter(col("cos") >= minCos)
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b").asc)
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("a").as("pruned_id"), col("b").as("keeper_id"),
        col("cluster").cast(LongType).as("cluster"), round(col("cos"), 4).as("cs"))
  }

  /** DuckDB oracle twin of [[semDedupPrune]]: reads the dumped centroids,
    * replays the max-cosine assignment (same tie order as [[kmeansDomains]]'s
    * oracle), then the within-cluster pairing and keeper window. */
  def semDedupOracleSql(minCos: Double = 0.4): String =
    s"""WITH c AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cent
       |           FROM read_parquet('$SemDedupCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk FROM s)
       |         WHERE rnk = 1),
       | p AS (SELECT ca.vec_id AS a, cb.vec_id AS b, ca.cluster AS cluster,
       |        CASE WHEN sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb)) = 0 THEN 0.0
       |             ELSE list_dot_product(ea.emb, eb.emb) /
       |                  (sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb))) END AS cos
       |       FROM asg ca JOIN asg cb ON ca.cluster = cb.cluster AND ca.vec_id > cb.vec_id
       |        JOIN e ea ON ea.vec_id = ca.vec_id JOIN e eb ON eb.vec_id = cb.vec_id),
       | q AS (SELECT a, b, cluster, cos,
       |        row_number() OVER (PARTITION BY a ORDER BY cos DESC, b) AS rnk
       |       FROM p WHERE cos >= $minCos)
       |SELECT a AS pruned_id, b AS keeper_id, CAST(cluster AS BIGINT) AS cluster, round(cos, 4) AS cs
       |FROM q WHERE rnk = 1""".stripMargin

  /** Where [[randomProjTopK]] dumps its projection matrix for the replay
    * oracle. */
  lazy val RpMatrixDump: String = s"$OracleDumpRoot/s13_rp_matrix"

  /** Johnson–Lindenstrauss random-projection top-k (s13): embeddings are
    * projected Dim→rdim through a seeded Gaussian matrix (entries
    * N(0,1)/√rdim — the JL scaling, so expected norms and hence cosines
    * are approximately preserved) and the s1 exact-scan shape runs in the
    * REDUCED space. This is the cheap front half of dimensionality-reduced
    * serving: 4× fewer multiplies per candidate at rdim=16, with the
    * projection itself a zero-shuffle row-local map (each output
    * coordinate one codegen'd [[vec_dot]] against a foldable matrix row —
    * no UDF, no shuffle, constant plan size in rdim).
    *
    * Scale shape: at 100 TB the projected table is the index-at-rest
    * (materialized once here, written by ingest in production) — 4×
    * smaller than the float corpus, scanned instead of it; the matrix is
    * a driver constant (rdim × Dim doubles), never a join side.
    *
    * Oracle: the matrix dumps to parquet and DuckDB replays projection
    * (same sequential-accumulation dot product), cosine, and the
    * (cos DESC, nb_id) rank from the same constants. */
  def randomProjTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, rdim: Int = 16, seed: Long = 42): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val mat = Array.fill(rdim, Dim)(rnd.nextGaussian() / math.sqrt(rdim))
    import spark.implicits._
    mat.toSeq.zipWithIndex.map { case (r, j) => (j, r.toSeq) }
      .toDF("j", "row").coalesce(1).write.mode("overwrite").parquet(RpMatrixDump)
    val proj = array((0 until rdim).map(j =>
      vec_dot(col("embedding"), typedLit(mat(j).toSeq))): _*)
    val e = materialize(
      t(spark, dir, "embeddings").select(col("vec_id"), proj.as("y")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("y").as("qy"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    e.select(col("vec_id").as("nb_id"), col("y").as("ny"))
      .join(broadcast(q), col("nb_id") =!= col("q_id"))
      .withColumn("cos", vec_cosine(col("qy"), col("ny")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 4).as("cs"),
        col("rnk").cast(LongType).as("rnk"))
  }

  /** DuckDB oracle twin of [[randomProjTopK]] — projection, cosine and
    * rank replayed from the dumped matrix with the same double math. */
  def randomProjOracleSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH m AS (SELECT j, row FROM read_parquet('$RpMatrixDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | p AS (SELECT e.vec_id, list(list_dot_product(e.emb, m.row) ORDER BY m.j) AS y
       |       FROM e, m GROUP BY e.vec_id),
       | pairs AS (SELECT q.vec_id AS q_id, n.vec_id AS nb_id,
       |        CASE WHEN sqrt(list_dot_product(q.y, q.y)) * sqrt(list_dot_product(n.y, n.y)) = 0 THEN 0.0
       |             ELSE list_dot_product(q.y, n.y) /
       |                  (sqrt(list_dot_product(q.y, q.y)) * sqrt(list_dot_product(n.y, n.y))) END AS cos
       |       FROM p q JOIN p n ON n.vec_id != q.vec_id WHERE q.vec_id < $nQueries),
       | r AS (SELECT q_id, nb_id, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM pairs)
       |SELECT q_id, nb_id, cs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  /** MMR diversity re-rank (s14) — maximal marginal relevance over each
    * query's exact top-`nCand` cosine candidates: greedily select `k`
    * results maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — the
    * standard de-redundancy step between retrieval and a RAG/annotation
    * consumer (near-identical top hits waste the downstream budget).
    *
    * Scale shape: the expensive part is candidate generation (the s1 scan
    * — or s8's index in production); MMR itself touches only
    * nQueries×nCand rows, materialized once, and each greedy step is a
    * slim join + window over that bounded relation. The greedy loop is
    * UNROLLED (k is a small constant), so the whole selection is one
    * deterministic Catalyst plan — no driver-side row handling.
    *
    * Oracle: the same unrolled selection in DuckDB — identical cosine
    * double math (the s1 discipline), identical λ arithmetic, ties to the
    * smaller nb_id at every step. */
  def mmrRerank(spark: SparkSession, dir: String, nQueries: Int = 10,
      nCand: Int = 10, k: Int = 3, lambda: Double = 0.7): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"))
    val wTop = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("nb_id").asc)
    // candidates carry their embeddings so pairwise sims stay row-local
    val cand = materialize(
      e.select(col("vec_id").as("nb_id"), col("embedding").as("ea"))
        .join(broadcast(q), col("nb_id") =!= col("q_id"))
        .withColumn("rel", vec_cosine(col("qa"), col("ea")))
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= nCand)
        .select(col("q_id"), col("nb_id"), col("rel"), col("ea")))
    def pick(scored: DataFrame, step: Int): DataFrame =
      scored.withColumn("pk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("mmr").desc, col("nb_id").asc)))
        .filter(col("pk") === 1)
        .select(col("q_id"), col("nb_id"), col("mmr"), lit(step.toLong).as("step"))
    var sel = pick(cand.select(col("q_id"), col("nb_id"),
      (col("rel") * lambda).as("mmr")), 1)
    var s = 2
    while (s <= k) {
      val selEmb = sel.join(cand.select(col("q_id"), col("nb_id"), col("ea")),
          Seq("q_id", "nb_id"))
        .select(col("q_id"), col("ea").as("sea"))
      val remaining = cand.join(sel.select(col("q_id"), col("nb_id")),
        Seq("q_id", "nb_id"), "left_anti")
      val scored = remaining.join(selEmb, Seq("q_id"))
        .groupBy(col("q_id"), col("nb_id"))
        .agg(max(col("rel")).as("rel"), max(vec_cosine(col("ea"), col("sea"))).as("pen"))
        .select(col("q_id"), col("nb_id"),
          (col("rel") * lambda - col("pen") * (1.0 - lambda)).as("mmr"))
      sel = sel.union(pick(scored, s))
      s += 1
    }
    sel.select(col("q_id"), col("nb_id"), round(col("mmr"), 4).as("mmr"), col("step"))
  }

  /** DuckDB oracle twin of [[mmrRerank]] — the same unrolled greedy
    * selection (k steps as chained CTEs) with the s1 cosine formula. */
  def mmrOracleSql(nQueries: Int = 10, nCand: Int = 10, k: Int = 3,
      lambda: Double = 0.7): String = {
    require(k == 3, "oracle is unrolled for k = 3")
    val l = lambda; val m = 1.0 - lambda
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | r AS (SELECT q.vec_id AS q_id, n.vec_id AS nb_id,
       |        CASE WHEN sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(n.emb, n.emb)) = 0 THEN 0.0
       |             ELSE list_dot_product(q.emb, n.emb) /
       |                  (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(n.emb, n.emb))) END AS rel
       |       FROM e q JOIN e n ON n.vec_id != q.vec_id WHERE q.vec_id < $nQueries),
       | cand AS (SELECT q_id, nb_id, rel FROM (
       |           SELECT q_id, nb_id, rel,
       |                  row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, nb_id) AS rk
       |           FROM r) x WHERE rk <= $nCand),
       | sim AS (SELECT a.q_id, a.nb_id AS a, b.nb_id AS b,
       |          CASE WHEN sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb)) = 0 THEN 0.0
       |               ELSE list_dot_product(ea.emb, eb.emb) /
       |                    (sqrt(list_dot_product(ea.emb, ea.emb)) * sqrt(list_dot_product(eb.emb, eb.emb))) END AS s
       |         FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.nb_id != b.nb_id
       |         JOIN e ea ON ea.vec_id = a.nb_id JOIN e eb ON eb.vec_id = b.nb_id),
       | s1 AS (SELECT q_id, nb_id, $l * rel AS mmr, 1 AS step FROM (
       |          SELECT q_id, nb_id, rel,
       |                 row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, nb_id) AS pk
       |          FROM cand) x WHERE pk = 1),
       | p2 AS (SELECT c.q_id, c.nb_id, $l * c.rel - $m * s.s AS mmr
       |        FROM cand c JOIN s1 ON s1.q_id = c.q_id AND s1.nb_id != c.nb_id
       |        JOIN sim s ON s.q_id = c.q_id AND s.a = c.nb_id AND s.b = s1.nb_id),
       | s2 AS (SELECT q_id, nb_id, mmr, 2 AS step FROM (
       |          SELECT q_id, nb_id, mmr,
       |                 row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, nb_id) AS pk
       |          FROM p2) x WHERE pk = 1),
       | selu AS (SELECT q_id, nb_id FROM s1 UNION ALL SELECT q_id, nb_id FROM s2),
       | p3 AS (SELECT c.q_id, c.nb_id, $l * max(c.rel) - $m * max(s.s) AS mmr
       |        FROM cand c
       |        JOIN sim s ON s.q_id = c.q_id AND s.a = c.nb_id
       |        JOIN selu u ON u.q_id = s.q_id AND u.nb_id = s.b
       |        WHERE NOT EXISTS (SELECT 1 FROM selu v WHERE v.q_id = c.q_id AND v.nb_id = c.nb_id)
       |        GROUP BY c.q_id, c.nb_id),
       | s3 AS (SELECT q_id, nb_id, mmr, 3 AS step FROM (
       |          SELECT q_id, nb_id, mmr,
       |                 row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, nb_id) AS pk
       |          FROM p3) x WHERE pk = 1),
       | allsel AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3)
       |SELECT q_id, nb_id, round(mmr, 4) AS mmr, CAST(step AS BIGINT) AS step FROM allsel""".stripMargin
  }

  /** Sparse tf-idf cosine top-k over the documents table via an INVERTED
    * INDEX (s12) — the classic IR retrieval shape and the sparse
    * counterpart of the dense s1: each document is a sparse
    * (term → tf·ln(N/df)) vector, and query·document dot products
    * accumulate from postings-list matches instead of dense array kernels.
    *
    * Scale shape: the postings relation (doc_id, term, w) is the
    * index-at-rest (materialized here; appended by ingest in a standing
    * pipeline, cf. d7/d8's codes-at-rest). The query side — nQueries
    * documents' postings — is BROADCAST, so the corpus postings never
    * shuffle for the match; partial products then reduce on the slim
    * (q_id, nb_id) key. Terms appearing in over half the corpus are
    * dropped from the index above a df ceiling (`maxDfPct`, the standard
    * stop-list prune, decided by the EXACT integer test 100·df < pct·N —
    * production corpora use 50–90; the default 95 suits short-vocabulary
    * test data): per-query cost is bounded by the df of
    * the query's surviving terms, not corpus size, and idf weighting
    * already pushes those hot terms toward zero contribution.
    *
    * Cross-engine: every pairwise product and squared-norm term rounds to
    * DECIMAL(18,8) before its sum (t12's discipline — order-insensitive,
    * exact in both engines; the 1-ulp ln risk is absorbed by the
    * rounding); the cosine divides in double, identically on both sides,
    * and presents at 4 dp. */
  /** Per-JVM registry of the at-rest weighted postings index per
    * (dir, maxDfPct) — the header's own design claim made literal (r13
    * opt): "the postings relation is the index-at-rest, appended by
    * ingest in a standing pipeline". The first toucher runs the real
    * tokenize → tf → df → idf-weight pipeline and dumps (doc_id, term,
    * w, nsq), where nsq is the document's squared norm: the exact
    * DECIMAL(18,8) sum of w² over its rows, carried on each of them.
    * Every later serve (s12 re-runs, the s29 fusion's sparse leg) reads
    * the parquet — query postings and the dot join are column-pruned
    * scans of the artifact, and both norms ride along with the postings,
    * so serving aggregates and joins no norms relation. Keyed by BOTH
    * parameters the build consumes (the §3 bug class). */
  private[graft] val postingsReg =
    graft.core.AtRestRegistry[String]("sim.s12_postings", arity = 2)

  def sparseTfidfTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, maxDfPct: Int = 95): DataFrame = {
    val wPath = postingsReg.getOrBuild(dir, maxDfPct) {
      val p = postingsReg.pathFor(OracleDumpRoot, "s12_postings", dir, maxDfPct)
      val docs = t(spark, dir, "documents")
      val tf = docs.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val tfM = materialize(tf) // feeds the df fit AND the weighting — one token pass
      val dfreq = tfM.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // doc count derives from the materialized postings (every document
      // yields >=1 token, the empty string included), so documents is
      // scanned exactly once
      val stats = tfM.agg(count_distinct(col("doc_id")).as("n_docs_l"),
        count_distinct(col("doc_id")).cast(DoubleType).as("n_docs"))
      tfM.join(dfreq, Seq("term"))
        .crossJoin(broadcast(stats))
        .filter(col("df") * 100 < col("n_docs_l") * maxDfPct) // exact integer stop-list prune
        .select(col("doc_id"), col("term"),
          (col("tf").cast(DoubleType) * log(col("n_docs") / col("df").cast(DoubleType))).as("w"))
        .withColumn("nsq", sum((col("w") * col("w")).cast(DecimalType(18, 8)))
          .over(Window.partitionBy(col("doc_id"))).cast(DoubleType))
        .write.mode("overwrite").parquet(p)
      p
    }
    val wts = parquet(spark, wPath)
    val qpost = wts.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("q_id"), col("term"), col("w").as("wq"), col("nsq").as("qn"))
    val dots = wts.select(col("doc_id").as("nb_id"), col("term"), col("w").as("wd"), col("nsq").as("dn"))
      .join(broadcast(qpost), Seq("term"))
      .filter(col("nb_id") =!= col("q_id"))
      // qn and dn are functions of q_id and nb_id, so they split no group
      .groupBy(col("q_id"), col("qn"), col("nb_id"), col("dn"))
      .agg(sum((col("wq") * col("wd")).cast(DecimalType(18, 8))).cast(DoubleType).as("dot"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    dots
      .withColumn("cos", col("dot") / (sqrt(col("qn")) * sqrt(col("dn"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), round(col("cos"), 4).as("cs"),
        col("rnk").cast(LongType).as("rnk"))
  }

  /** DuckDB oracle twin of [[sparseTfidfTopK]] — same tokenization, same
    * integer stop-list prune, same per-term decimal rounding, same
    * (cos DESC, nb_id) rank order. */
  def sparseTfidfOracleSql(nQueries: Int = 10, k: Int = 5, maxDfPct: Int = 95): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents),
       | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
       | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       | st AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_l,
       |         CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
       | wts AS (SELECT t.doc_id, t.term,
       |          CAST(t.tf AS DOUBLE) * ln(s.n_docs / CAST(d.df AS DOUBLE)) AS w
       |         FROM tf t JOIN dfreq d USING (term), st s WHERE d.df * 100 < s.n_docs_l * $maxDfPct),
       | norms AS (SELECT doc_id, CAST(sum(CAST(w * w AS DECIMAL(18,8))) AS DOUBLE) AS nsq
       |           FROM wts GROUP BY 1),
       | dots AS (SELECT q.doc_id AS q_id, d.doc_id AS nb_id,
       |           CAST(sum(CAST(q.w * d.w AS DECIMAL(18,8))) AS DOUBLE) AS dot
       |          FROM wts q JOIN wts d USING (term)
       |          WHERE q.doc_id < $nQueries AND d.doc_id <> q.doc_id GROUP BY 1, 2),
       | c AS (SELECT q_id, nb_id, dot / (sqrt(nq.nsq) * sqrt(nd.nsq)) AS cos
       |       FROM dots JOIN norms nq ON nq.doc_id = dots.q_id
       |                 JOIN norms nd ON nd.doc_id = dots.nb_id),
       | r AS (SELECT q_id, nb_id, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM c)
       |SELECT q_id, nb_id, cs, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  // ---------------- Binary sign-hash / Hamming top-k (s27) ----------------

  /** Sign-bit signature of a 64-dim embedding, bit-packed into TWO 32-bit
    * words carried as BIGINTs (`w0` = dims 0–31, `w1` = dims 32–63; bit i
    * set iff coordinate > 0). Two words, not one, so no value ever touches
    * the sign bit of a 64-bit integer — every signature is a plain
    * non-negative BIGINT in BOTH engines (bit 63 of a single-word packing
    * would flip the sign and engines diverge on signed-vs-unsigned
    * formatting). A row-local fold, whole-stage codegen. */
  private def signWord(emb: String, lo: Int): Column = expr(
    s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
       | (acc, i) -> acc + IF(element_at($emb, i + $lo + 1) > 0.0D,
       |                      shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))""".stripMargin)

  /** Hamming top-k over binary sign hashes (s27) — the coarsest, cheapest
    * tier of the ANN ladder (below s5's int8 and s7's PQ): each vector
    * collapses to an 8-BYTE signature (vs 256 B of float32 — a 32×
    * smaller at-rest index that 100 TB of embeddings turns into ~3 TB),
    * and distance is two XOR+POPCOUNT ops per candidate (`bit_count` —
    * codegen'd, branch-free, the SIMD-class kernel every binary-embedding
    * paper leans on). Sign-of-coordinate is the classic binarization for
    * zero-centered embeddings: Hamming distance then approximates angular
    * distance (each differing sign bit is a hyperplane the two vectors
    * straddle — the s2 random-hyperplane story with the axis-aligned
    * basis).
    *
    * Scale shape: signatures are computed in ONE row-local scan (at rest
    * they'd persist as a 2-BIGINT column and the float column never loads
    * — `ReadSchema` carries 16 bytes/row); the probe set is a broadcast;
    * ranking is (ham ASC, nb_id) with WindowGroupLimit pushing k into the
    * exchange. The all-probes×corpus product is an EVAL shape bounded by
    * nQueries·corpus (the adjudicated s1 allowlist); the production path
    * at 100 TB buckets candidates by signature prefix (s2's LSH bucket
    * equi-join) and uses THIS kernel as the in-bucket re-rank. Output is
    * all-integer — no float formatting to drift. */
  def hammingTopK(spark: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val sigs = t(spark, dir, "embeddings")
      .select(col("vec_id"), signWord("embedding", 0).as("w0"), signWord("embedding", 32).as("w1"))
    val q = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("ham").asc, col("nb_id").asc)
    sigs.select(col("vec_id").as("nb_id"), col("w0"), col("w1"))
      .join(broadcast(q), col("nb_id") =!= col("q_id"))
      .withColumn("ham",
        (bit_count(expr("w0 ^ q0")) + bit_count(expr("w1 ^ q1"))).cast(LongType))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("nb_id"), col("ham"), col("rnk").cast(LongType).as("rnk"))
  }

  /** DuckDB oracle twin of [[hammingTopK]] — same two-word sign packing
    * (list-comprehension fold), same XOR+popcount distance, same
    * (ham ASC, nb_id) rank order. */
  def hammingTopKOracleSql(nQueries: Int = 10, k: Int = 5): String =
    s"""WITH sig AS (SELECT vec_id,
       |  CAST(list_sum([CASE WHEN embedding[i + 1] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
       |                 FOR i IN range(0, 32)]) AS BIGINT) AS w0,
       |  CAST(list_sum([CASE WHEN embedding[i + 33] > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
       |                 FOR i IN range(0, 32)]) AS BIGINT) AS w1
       | FROM embeddings),
       | pairs AS (SELECT q.vec_id AS q_id, e.vec_id AS nb_id,
       |            bit_count(xor(e.w0, q.w0)) + bit_count(xor(e.w1, q.w1)) AS ham
       |           FROM sig q, sig e
       |           WHERE q.vec_id < $nQueries AND e.vec_id <> q.vec_id),
       | r AS (SELECT q_id, nb_id, CAST(ham AS BIGINT) AS ham,
       |        row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, nb_id) AS rnk FROM pairs)
       |SELECT q_id, nb_id, ham, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $k""".stripMargin

  // ---------------- k-means|| scalable init (s28) ----------------

  /** Where the most recent [[kmeansParallelInit]] call dumped its fitted
    * init centroids — per-dir, the s22/s25 `dirToken` convention. */
  @volatile private[ops] var KmppDump: String = s"$OracleDumpRoot/s28_init"

  /** Deterministic per-(vec_id, round) uniform in [0, 1): the first 15 hex
    * chars of md5 as a 60-bit integer over 2^60 — reproducible across
    * runs, engines, and partitionings (no RNG state to ship). */
  private def hashUniform(round: Int): Column =
    (conv(substring(md5(concat_ws("#", col("vec_id"), lit(round))), 1, 15), 16, 10)
      .cast(DoubleType) / lit(1.152921504606846976e18))

  /** Weighted Lloyd on the candidate set (driver-grain: the candidate set
    * is O(ℓ·rounds) BY CONSTRUCTION — see below — never corpus-sized).
    * Deterministic: seeds are the first k candidates in arrival order;
    * empty clusters keep their centroid. */
  private def weightedLloyd(pts: Array[Array[Double]], w: Array[Long], k: Int,
      iters: Int): Array[Array[Double]] = {
    val dim = pts(0).length
    val cents = Array.tabulate(math.min(k, pts.length))(c => pts(c).clone)
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](cents.length, dim)
      val cnt = new Array[Double](cents.length)
      for (p <- pts.indices) {
        var best = 0; var bd = Double.MaxValue
        for (c <- cents.indices) {
          var d = 0.0; var j = 0
          while (j < dim) { val df = pts(p)(j) - cents(c)(j); d += df * df; j += 1 }
          if (d < bd) { bd = d; best = c }
        }
        cnt(best) += w(p); val s = sums(best); var j = 0
        while (j < dim) { s(j) += pts(p)(j) * w(p); j += 1 }
      }
      for (c <- cents.indices if cnt(c) > 0; j <- 0 until dim)
        cents(c)(j) = sums(c)(j) / cnt(c)
    }
    cents
  }

  /** Exact-integer nearest-centroid assignment: embeddings quantize ONCE
    * to scaled BIGINTs (round(x, 8)·1e8 — tie-free on float32 inputs, the
    * s24 discipline) and distances are exact `Σ (a−b)²` in DECIMAL(38,0),
    * so the argmin (and hence the gate hash) cannot move with float
    * summation order in EITHER engine. `cm` is the scaled centroid matrix
    * inlined as literals. */
  // r13 opt: the s24 unscaled-long limb discipline applied to the census
  // distances — each squared diff is a plain long (≤4e18 under the
  // |coordinate|<10 bound), limb-split into base-1e9 (hi, lo) long sums
  // (hi ≤ dim·4e9, lo ≤ dim·1e9 — both deep inside int64), and the final
  // carry-normalized (dh, dl) pair IS the exact distance in lexicographic
  // order (dl < 1e9), so the argmin needs no decimal arithmetic anywhere.
  // r14 opt: the fold runs as the NATIVE CentroidNearestLimb kernel — the
  // r13 HOF form (array_sort over transform/zip_with/aggregate structs)
  // allocated intermediate arrays and structs per (row × centroid) and
  // was the dominant cost of the whole s28 query (~2-3 s of the ~4 s
  // total at sf0.1); the kernel is the identical limb arithmetic as a
  // flat long loop, bit-identical argmin (CentroidExprsSpec pins it
  // against the SQL formulation).
  private def exactAssign(cmL: Array[Array[Long]]): Column =
    graft.functions.CentroidExprs.centroid_nearest_limb(col("ri"), cmL)

  /** k-means|| scalable initialization (s28) — Bahmani et al.'s
    * oversampled distributed seeding, the init that makes million-cluster
    * IVF fits possible where k-means++ needs k SEQUENTIAL corpus passes:
    * each of `rounds` passes samples every point INDEPENDENTLY with
    * probability `ℓ·d²(x, C)/φ(C)` (cost-proportional, one scan per
    * round), so the expected draw is ℓ per round REGARDLESS of corpus
    * size — the candidate set is O(ℓ·rounds) at 500 vectors or 500
    * billion, and only IT ever reaches the driver. Candidates are then
    * weighted by the points they attract (one more scan, map-side
    * combined) and reclustered locally to k — exactly the paper's
    * recluster-the-sketch step. Sampling "randomness" is the
    * deterministic per-(vec_id, round) md5 uniform, so the fit is
    * reproducible across runs, engines, and partitionings.
    *
    * The gate replays the s22 device: the fitted init centroids dump
    * (rounded to 8 decimals) and the output is the per-cluster assignment
    * census of the corpus under EXACT scaled-integer distances — a
    * degenerate init (collapsed or empty clusters) cannot match the
    * oracle's census of a healthy one. SpecS28 proves the init beats
    * naive first-k seeding on φ and that round draws track ℓ. */
  def kmeansParallelInit(spark: SparkSession, dir: String, k: Int = 16,
      ell: Int = 32, rounds: Int = 3): DataFrame = {
    import graft.functions.CentroidExprs.centroid_nearest_l2
    val emb = graft.ops.Tables.materialize(t(spark, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e")))
    // per-round distances via the native L2 kernel: the candidate matrix
    // rides as ONE codegen reference object (the literal-inlined first cut
    // spent ~9 s/query in janino at ~65 candidates — the 64KB-method
    // failure CentroidExprs exists to prevent; production candidate sets
    // are thousands)
    def d2Col(cands: Seq[Array[Double]]): Column =
      centroid_nearest_l2(col("e"), cands.toArray).getField("d2")
    // seed: the (deterministic) first point of the corpus
    var cands: Vector[Array[Double]] =
      Vector(emb.orderBy(col("vec_id")).select(col("e")).head()
        .getSeq[Double](0).toArray)
    for (r <- 1 to rounds) {
      // r14 opt: the round's distance column is computed ONCE and
      // checkpointed — the two-pass form ran the k·dim L2 kernel over the
      // corpus twice per round (once under the φ aggregate, once under
      // the draw's filter). φ and the draw then read the stored d2 (label
      // grain, no kernel). d2 values are identical by construction and φ
      // is the same sum over the same partition layout, so the draw — and
      // hence the fit — is unchanged.
      val withD2 = graft.ops.Tables.materialize(
        emb.withColumn("d2", d2Col(cands)))
      val phi = withD2.agg(sum(col("d2"))).head().getDouble(0)
      val drawn = withD2
        .filter(hashUniform(r) < col("d2") * ell / phi)
        .orderBy(col("vec_id")).select(col("e")).collect()
        .map(_.getSeq[Double](0).toArray)
      cands = cands ++ drawn
    }
    // weight candidates by attraction (same kernel; weights only steer the
    // local recluster, they are not gated)
    val wMap = emb
      .select(centroid_nearest_l2(col("e"), cands.toArray).getField("cluster").as("cand"))
      .groupBy(col("cand")).agg(count(lit(1)).as("w")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weights: Array[Long] = cands.indices.map(i => wMap.getOrElse(i, 0L)).toArray
    val cents = weightedLloyd(cands.toArray, weights, k, iters = 10)
      .map(_.map(v => math.rint(v * 1e8) / 1e8))
    KmppDump = s"$OracleDumpRoot/s28_init_${dirToken(dir)}"
    dumpCentroids(spark, cents, KmppDump)
    // gated census: exact scaled-integer assignment against the dump twin
    val cmL: Array[Array[Long]] = cents.map(_.map(v => math.rint(v * 1e8).toLong))
    val total = weights.sum // every vector attracted to exactly one candidate
    t(spark, dir, "embeddings")
      .select(expr(
        "transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE), 8) AS DECIMAL(18,8)) * 100000000 AS BIGINT))")
        .as("ri"))
      .select(exactAssign(cmL).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_vecs"))
      .select(col("cluster"), col("n_vecs"),
        outd(col("n_vecs") / lit(total.toDouble), 4).as("share"))
  }

  /** DuckDB oracle twin of [[kmeansParallelInit]] — the census replayed
    * from the dumped init centroids under the SAME exact scaled-integer
    * distance (HUGEINT sums of (a−b)², argmin ties to the lower cluster). */
  def kmeansParallelInitOracleSql: String =
    s"""WITH c AS (SELECT cluster,
       |            list_transform(centroid, x -> CAST(round(x * 100000000) AS BIGINT)) AS ci
       |           FROM read_parquet('$KmppDump/*.parquet')),
       | e AS (SELECT vec_id,
       |        list_transform(embedding, x ->
       |          CAST(CAST(round(CAST(x AS DOUBLE), 8) AS DECIMAL(18,8)) * 100000000 AS BIGINT)) AS ri
       |       FROM embeddings),
       | s AS (SELECT e.vec_id, c.cluster,
       |        list_sum([CAST((e.ri[i] - c.ci[i]) * (e.ri[i] - c.ci[i]) AS HUGEINT)
       |                  FOR i IN range(1, len(e.ri) + 1)]) AS d
       |       FROM e, c),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rnk FROM s) x
       |         WHERE rnk = 1),
       | tot AS (SELECT count(*) AS n FROM e)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n_vecs,
       | round(CAST(count(*) AS DOUBLE) / tot.n, 4) + 0.0 AS share
       |FROM asg, tot GROUP BY cluster, tot.n""".stripMargin

  // ---------------- Reciprocal-rank fusion (s29) ----------------

  /** Hybrid retrieval via reciprocal-rank fusion (s29) — the standard way
    * a retrieval stack combines a DENSE ranker (s1's embedding cosine)
    * with a SPARSE one (s12's tf-idf) without score calibration:
    * `RRF(d) = Σ_r 1/(K + rank_r(d))` over the rankers that surfaced `d`
    * in their top-`poolK` pool (K = 60, the constant from the original
    * Cormack/Clarke/Buettcher paper — rank positions, never raw scores,
    * so the two rankers' incomparable score scales cannot fight). The
    * corpus convention `vec_id i = the embedding of doc_id i` makes the
    * two id spaces one.
    *
    * Scale shape: fusion consumes the RANKINGS, not the corpora — a
    * full-outer equi-join of two (nQueries·poolK)-row relations and one
    * WindowGroupLimit top-k, costs independent of corpus size; the heavy
    * lifting stays in the rankers, which at production scale are the
    * bucketed paths (s2/s8) these eval rankers certify. Output is
    * all-integer (ranks and the −1 absent sentinel; fused ORDER is by the
    * identically-computed IEEE double, but only the order ships). */
  def rrfFusion(spark: SparkSession, dir: String, nQueries: Int = 10,
      poolK: Int = 20, k: Int = 10, kRrf: Int = 60): DataFrame = {
    val dense = cosineTopK(spark, dir, nQueries, poolK)
      .select(col("q_id"), col("nb_id"), col("rnk").as("r_dense"))
    val sparse = sparseTfidfTopK(spark, dir, nQueries, poolK)
      .select(col("q_id"), col("nb_id"), col("rnk").as("r_sparse"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("nb_id").asc)
    dense.join(sparse, Seq("q_id", "nb_id"), "full_outer")
      .withColumn("score",
        when(col("r_dense").isNotNull, lit(1.0) / (lit(kRrf) + col("r_dense"))).otherwise(lit(0.0)) +
          when(col("r_sparse").isNotNull, lit(1.0) / (lit(kRrf) + col("r_sparse"))).otherwise(lit(0.0)))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
      .select(col("q_id"), col("nb_id"),
        coalesce(col("r_dense"), lit(-1L)).as("r_dense"),
        coalesce(col("r_sparse"), lit(-1L)).as("r_sparse"),
        col("fused_rank").cast(LongType).as("fused_rank"))
  }

  /** DuckDB oracle twin of [[rrfFusion]] — the two ranker twins verbatim
    * as subqueries (they can never drift from s1/s12), the same
    * full-outer fuse, identical IEEE score expression, same (score DESC,
    * nb_id) order, −1 sentinels. */
  def rrfFusionOracleSql(nQueries: Int = 10, poolK: Int = 20, k: Int = 10,
      kRrf: Int = 60): String =
    s"""WITH dense AS (SELECT q_id, nb_id, rnk AS r_dense FROM (
       |        ${cosineTopKOracleSql(nQueries, poolK).replace("\n", "\n        ")}) dd),
       | sparse AS (SELECT q_id, nb_id, rnk AS r_sparse FROM (
       |        ${sparseTfidfOracleSql(nQueries, poolK).replace("\n", "\n        ")}) ss),
       | fused AS (SELECT coalesce(dense.q_id, sparse.q_id) AS q_id,
       |            coalesce(dense.nb_id, sparse.nb_id) AS nb_id,
       |            r_dense, r_sparse,
       |            (CASE WHEN r_dense IS NOT NULL
       |                  THEN CAST(1.0 AS DOUBLE) / ($kRrf + r_dense) ELSE CAST(0.0 AS DOUBLE) END)
       |          + (CASE WHEN r_sparse IS NOT NULL
       |                  THEN CAST(1.0 AS DOUBLE) / ($kRrf + r_sparse) ELSE CAST(0.0 AS DOUBLE) END) AS score
       |           FROM dense FULL OUTER JOIN sparse
       |             ON dense.q_id = sparse.q_id AND dense.nb_id = sparse.nb_id),
       | r AS (SELECT q_id, nb_id, r_dense, r_sparse,
       |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nb_id) AS fused_rank
       |       FROM fused)
       |SELECT q_id, nb_id, coalesce(r_dense, -1) AS r_dense,
       | coalesce(r_sparse, -1) AS r_sparse, CAST(fused_rank AS BIGINT) AS fused_rank
       |FROM r WHERE fused_rank <= $k""".stripMargin

  /** IVF nprobe tuning sweep (s32) — the recall-vs-cost curve every IVF
    * deployment measures before fixing its probe budget: the s4 index
    * evaluated at nprobe ∈ {1, 2, 4, 8} against the exact ground truth
    * (s1), reported as mean recall@k and total candidate volume per
    * setting. s11 answers "does THIS configuration clear the recall bar";
    * this sweep answers "which configuration do I buy" — the knee of the
    * curve is the deployment decision, and on clustered production data
    * the curve saturates far earlier than on this worst-case gaussian
    * fixture (no cluster structure — the reason s4's own default probes
    * 10/16 cells).
    *
    * Scale shape: one shared coarse fit + ONE exact ground-truth scan
    * (materialized — the s11 discipline), then per setting the s4
    * cell-equi-join path (bucketed candidates, never corpus²); the eval
    * joins are nQueries·k-row relations, broadcast-sized at any corpus
    * scale. */
  def nprobeSweep(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nlist: Int = 16): DataFrame = {
    val settings = Seq(1, 2, 4, 8)
    val npMax = settings.max
    val exact = materialize(cosineTopK(spark, dir, nQueries, k)
      .select(col("q_id"), col("nb_id")))
    // ONE scoring pass serves every setting (r13 opt): the probed-cell
    // sets are NESTED — top-np cells are a PREFIX of the top-npMax list
    // (centroid_topn is a total order on (cs DESC, cluster ASC)) — so
    // annIvf(np)'s candidate set is exactly `cell_rank <= np` over one
    // shared scored relation. The r12 form ran the full annIvf pipeline
    // (fit dump + corpus cell join + rerank) once per setting: 4 corpus
    // scoring passes and 4 identical centroid dumps for one sweep. Same
    // fit, same cosine, same (cos DESC, nb_id) rank per setting —
    // results identical by construction, and the oracle (which replays
    // cell selection from the dump per np) gates it.
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), nlist)
    dumpCentroids(spark, centMatrix, IvfCentroidDump)
    import graft.functions.CentroidExprs.{centroid_argmax, centroid_topn}
    val assigned = emb.select(col("vec_id"), col("embedding"),
      centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"))
    val queryCells = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        posexplode(centroid_topn(col("embedding"), centMatrix, npMax)))
      .select(col("q_id"), col("qa"),
        (col("pos") + 1).as("cell_rank"), col("col.cluster").as("cluster"))
    // bounded: nQueries × npMax cells' members — materialized so the four
    // settings' rank/eval passes never re-run the corpus cell join
    val scored = materialize(
      assigned.select(col("vec_id").as("nb_id"), col("embedding").as("ea"), col("cluster"))
        .join(broadcast(queryCells), Seq("cluster"))
        .filter(col("nb_id") =!= col("q_id"))
        .withColumn("cos", cosine("qa", "ea"))
        .select(col("q_id"), col("nb_id"), col("cos"), col("cell_rank")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    settings.map { np =>
      val approx = scored.filter(col("cell_rank") <= np)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("nb_id"), lit(1L).as("hit"))
      exact.join(broadcast(approx), Seq("q_id", "nb_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .agg(count(lit(1)).as("n_q"), sum(col("n_hit")).as("hits"))
        .select(lit(np.toLong).as("nprobe"), col("n_q"),
          round(col("hits").cast(DoubleType) / (col("n_q") * k), 4).as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** DuckDB oracle twin of [[nprobeSweep]] — the s1 and s4 oracle chains
    * verbatim per setting, same fold. */
  def nprobeSweepOracleSql(nQueries: Int = 10, k: Int = 5): String =
    Seq(1, 2, 4, 8).map { np =>
      s"""SELECT CAST($np AS BIGINT) AS nprobe, CAST(count(*) AS BIGINT) AS n_q,
         | round(CAST(sum(h.n_hit) AS DOUBLE) / (count(*) * $k), 4) AS recall
         |FROM (
         |  SELECT e.q_id, count(a.nb_id) AS n_hit
         |  FROM (${cosineTopKOracleSql(nQueries, k).replace("\n", "\n  ")}) e
         |  LEFT JOIN (${annIvfOracleSql(nQueries, k, np).replace("\n", "\n  ")}) a
         |    ON a.q_id = e.q_id AND a.nb_id = e.nb_id
         |  GROUP BY e.q_id) h""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** Centroid-stratified coreset sampling (s31) — the coverage-preserving
    * downsample a curation pipeline runs when it can afford S exemplars
    * out of N vectors (distillation sets, eval panels, labeling budgets):
    * a uniform random sample over-represents dense regions and can miss
    * small modes entirely, so the sample is stratified over the s6 k-means
    * cells with per-cell quota ⌈S·n_c/N⌉ — every mode keeps proportional
    * representation and NO cell is left empty. Within a cell the picks are
    * a seeded deterministic shuffle (md5-salted vec_id, the c17 device) —
    * reproducible across runs, engines, and partitionings.
    *
    * Scale shape: pure composition — the cell relation is s6's zero-shuffle
    * assignment (fit bounded by IvfTrainCap, centroids inlined); quotas
    * come from a k-row map-side-combined count broadcast back; the pick is
    * one PER-CELL window (rank ≤ quota pushes into the exchange as a
    * group-limit), never a global sort. */
  def coverageSample(spark: SparkSession, dir: String, sampleSize: Int = 100): DataFrame = {
    val cells = kmeansDomains(spark, dir).select(col("vec_id"), col("cluster"))
    val sizes = cells.groupBy(col("cluster")).agg(count(lit(1)).as("n_c"))
    // max(…, 1): empty-relation guard against a `div 0` literal (ADVICE r10)
    val total = math.max(t(spark, dir, "embeddings").count(), 1L)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(md5(concat(lit("s31:"), col("vec_id").cast("string"))), col("vec_id"))
    cells.join(broadcast(sizes), Seq("cluster"))
      .withColumn("quota", expr(s"CAST(($sampleSize * n_c + $total - 1) div $total AS BIGINT)"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(col("vec_id"), col("cluster"), col("n_c"), col("quota"), col("rnk"),
        (col("rnk") <= col("quota")).as("sampled"))
  }

  /** DuckDB oracle twin of [[coverageSample]] — the s6 assignment replay
    * from the dumped centroids, the same quota arithmetic and seeded
    * within-cell order. */
  def coverageSampleOracleSql(sampleSize: Int = 100): String =
    s"""WITH asg AS (SELECT vec_id, cluster
       |             FROM (${kmeansDomainsOracleSql.replace("\n", "\n      ")}) a),
       | sz AS (SELECT cluster, count(*) AS n_c FROM asg GROUP BY cluster),
       | tot AS (SELECT count(*) AS n FROM embeddings),
       | r AS (SELECT asg.vec_id, asg.cluster, sz.n_c,
       |        CAST(($sampleSize * sz.n_c + tot.n - 1) // tot.n AS BIGINT) AS quota,
       |        CAST(row_number() OVER (PARTITION BY asg.cluster
       |          ORDER BY md5('s31:' || CAST(asg.vec_id AS VARCHAR)), asg.vec_id) AS BIGINT) AS rnk
       |       FROM asg JOIN sz USING (cluster), tot)
       |SELECT vec_id, cluster, CAST(n_c AS BIGINT) AS n_c, quota, rnk,
       | (rnk <= quota) AS sampled
       |FROM r""".stripMargin

  /** Triplet mining for contrastive training (s30) — per anchor, the
    * HARDEST NEGATIVE (most-cosine-similar vector with a DIFFERENT label:
    * the one a contrastive loss learns most from) and the NEAREST
    * POSITIVE (most-similar vector with the SAME label), plus the triplet
    * margin `pos_cos − neg_cos` and a violation verdict (`neg ≥ pos`: even
    * the anchor's BEST same-class neighbor is outscored by a cross-class
    * one — the anchor is misembedded for retrieval, and the triplet is a
    * training candidate). This is the batch-mining pass an
    * embedding-finetune pipeline runs between epochs (FaceNet-style
    * offline mining at corpus grain, with the easy-positive/hard-negative
    * pairing that targets retrieval-relevant errors).
    *
    * Gate shape: the s1 bounded-eval flat scan (nQueries anchors broadcast
    * against the corpus — nQueries·corpus, not corpus²; allowlisted with
    * s1/s9). Production composition at 10⁹ vectors: negatives from the
    * bucketed candidate generators (s2 LSH / s4 IVF probes — the hardest
    * negative is by definition among the nearest neighbors, exactly what
    * the index returns), positives per class via the s10 class-centroid
    * relation + per-class top-k — both equi-join shapes; the mining logic
    * here (two label-filtered rank-1 windows + one anchor-grain join) is
    * UNCHANGED over those candidate relations. */
  def tripletMining(spark: SparkSession, dir: String, nQueries: Int = 50): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"), col("label").as("ql"))
    val scored = e.select(col("vec_id").as("nb_id"), col("embedding").as("ea"), col("label").as("nl"))
      .join(broadcast(q), col("nb_id") =!= col("q_id"))
      .withColumn("cos", cosine("qa", "ea"))
    val wNeg = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id"))
    val wPos = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id"))
    val hardNeg = scored.filter(col("nl") =!= col("ql"))
      .withColumn("r", row_number().over(wNeg)).filter(col("r") === 1)
      .select(col("q_id"), col("nb_id").as("neg_id"), round(col("cos"), 4).as("neg_cos"))
    val hardPos = scored.filter(col("nl") === col("ql"))
      .withColumn("r", row_number().over(wPos)).filter(col("r") === 1)
      .select(col("q_id"), col("nb_id").as("pos_id"), round(col("cos"), 4).as("pos_cos"))
    hardPos.join(hardNeg, Seq("q_id"))
      .select(col("q_id"), col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 4).as("margin"),
        (col("neg_cos") >= col("pos_cos")).as("violation"))
  }

  /** DuckDB oracle twin of [[tripletMining]] — the s1 cosine expression
    * with labels carried, the same two rank-1 windows and tie orders, and
    * margin/violation over the ROUNDED scores on both engines. */
  def tripletMiningOracleSql(nQueries: Int = 50): String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qa, label AS ql
       |           FROM embeddings WHERE vec_id < $nQueries),
       | pairs AS (
       |  SELECT q.q_id, q.ql, e.vec_id AS nb_id, e.label AS nl,
       |   (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(q.qa) AS x, unnest(e.embedding) AS y) z) /
       |   (sqrt((SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest(q.qa) AS x) z2)) *
       |    sqrt((SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) FROM (SELECT unnest(e.embedding) AS y) z3))) AS cos
       |  FROM q, embeddings e WHERE e.vec_id != q.q_id),
       | neg AS (SELECT q_id, nb_id AS neg_id, round(cos, 4) AS neg_cos FROM (
       |          SELECT q_id, nb_id, cos,
       |            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS r
       |          FROM pairs WHERE nl != ql) x WHERE r = 1),
       | pos AS (SELECT q_id, nb_id AS pos_id, round(cos, 4) AS pos_cos FROM (
       |          SELECT q_id, nb_id, cos,
       |            row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS r
       |          FROM pairs WHERE nl = ql) x WHERE r = 1)
       |SELECT p.q_id, p.pos_id, p.pos_cos, n.neg_id, n.neg_cos,
       | round(p.pos_cos - n.neg_cos, 4) AS margin,
       | (n.neg_cos >= p.pos_cos) AS violation
       |FROM pos p JOIN neg n USING (q_id)""".stripMargin

  /** Where the most recent [[adaptiveNprobe]] call dumped its coarse
    * centroids — per-dir (the s25/q33 `dirToken` convention). */
  @volatile private[graft] var AdaptiveCentroidDump: String = ""

  /** QUERY-ADAPTIVE nprobe routing (s34) — the per-query cost control a
    * fixed-nprobe IVF (s4) leaves on the table: a query whose best cell
    * wins by a wide margin has its neighbors concentrated there (probe
    * few), a near-tie query needs breadth (probe many). The router reads
    * the margin between the top-2 coarse-centroid scores — information
    * the cell-selection kernel already computed, so routing is FREE — and
    * picks nprobe ∈ {4, 8, 12} on rounded-margin thresholds (0.2/0.1 —
    * the fixture margin quartiles straddle them, so all three routes are
    * exercised); candidates
    * and the exact rerank then proceed exactly as s4. Output carries the
    * routing evidence per query (margin, chosen nprobe, candidates
    * scored) next to the top-k, so the artifact shows the cost spread the
    * router bought.
    *
    * Scale shape: identical to s4 — row-local codegen cell scores, the
    * routed (query × cell) relation broadcast into the cell equi-join,
    * one window per query partition. The decision threshold compares
    * ROUNDED margins, so the route cannot drift between engines. */
  def adaptiveNprobe(spark: SparkSession, dir: String, nQueries: Int = 25, k: Int = 5,
      nlist: Int = 16): DataFrame = {
    import graft.functions.CentroidExprs.{centroid_argmax, centroid_topn}
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), nlist)
    val dump = s"$OracleDumpRoot/s34_centroids_${dirToken(dir)}"
    dumpCentroids(spark, centMatrix, dump)
    AdaptiveCentroidDump = dump
    val assigned = emb.select(col("vec_id").as("nb_id"), col("embedding").as("ea"),
      centroid_argmax(col("embedding"), centMatrix).getField("cluster").as("cluster"))
    val routed = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qa"),
        centroid_topn(col("embedding"), centMatrix, nlist).as("ranked"))
      .withColumn("margin", round(expr("ranked[0].cs - ranked[1].cs"), 4))
      .withColumn("np",
        when(col("margin") >= 0.2, 4).when(col("margin") >= 0.1, 8).otherwise(12))
      .select(col("q_id"), col("qa"), col("margin"), col("np"),
        explode(expr("slice(ranked, 1, np)")).as("cell"))
      .select(col("q_id"), col("qa"), col("margin"), col("np"),
        col("cell.cluster").as("cluster"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    val cand = assigned.join(broadcast(routed), Seq("cluster"))
      .filter(col("nb_id") =!= col("q_id"))
      .transform(materialize)
    val nCand = cand.groupBy(col("q_id")).agg(count(lit(1)).as("n_cand"))
    cand.withColumn("cos", cosine("qa", "ea"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .join(nCand, Seq("q_id"))
      .select(col("q_id"), col("margin"), col("np").cast(LongType).as("nprobe"),
        col("n_cand"), col("nb_id"), round(col("cos"), 4).as("cs"),
        col("rnk").cast(LongType).as("rnk"))
  }

  /** DuckDB oracle twin of [[adaptiveNprobe]] — the s4 replay with the
    * same rounded-margin router between cell ranking and cell probing. */
  def adaptiveNprobeOracleSql(nQueries: Int = 25, k: Int = 5): String =
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('$AdaptiveCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | asg AS (SELECT vec_id, cluster FROM (
       |          SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | qr AS (SELECT vec_id AS q_id, cluster, cs,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS crnk
       |        FROM s WHERE vec_id < $nQueries),
       | np AS (SELECT q_id,
       |         round(max(CASE WHEN crnk = 1 THEN cs END) -
       |               max(CASE WHEN crnk = 2 THEN cs END), 4) AS margin,
       |         CASE WHEN round(max(CASE WHEN crnk = 1 THEN cs END) -
       |                         max(CASE WHEN crnk = 2 THEN cs END), 4) >= 0.2 THEN 4
       |              WHEN round(max(CASE WHEN crnk = 1 THEN cs END) -
       |                         max(CASE WHEN crnk = 2 THEN cs END), 4) >= 0.1 THEN 8
       |              ELSE 12 END AS np
       |        FROM qr GROUP BY q_id),
       | qc AS (SELECT qr.q_id, qr.cluster FROM qr JOIN np USING (q_id)
       |        WHERE qr.crnk <= np.np),
       | cand AS (SELECT qc.q_id, a.vec_id AS nb_id FROM qc JOIN asg a USING (cluster)
       |          WHERE a.vec_id != qc.q_id),
       | nc AS (SELECT q_id, count(*) AS n_cand FROM cand GROUP BY q_id),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT cand.q_id, cand.nb_id,
       |        CASE WHEN nq.nrm * nn.nrm = 0 THEN 0.0
       |             ELSE list_dot_product(nq.emb, nn.emb) / (nq.nrm * nn.nrm) END AS cos
       |       FROM cand JOIN n nq ON nq.vec_id = cand.q_id JOIN n nn ON nn.vec_id = cand.nb_id),
       | r AS (SELECT q_id, nb_id, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rnk FROM p)
       |SELECT r.q_id, np.margin, CAST(np.np AS BIGINT) AS nprobe,
       | CAST(nc.n_cand AS BIGINT) AS n_cand, r.nb_id, r.cs, CAST(r.rnk AS BIGINT) AS rnk
       |FROM r JOIN np USING (q_id) JOIN nc USING (q_id) WHERE r.rnk <= $k""".stripMargin

  /** Where the most recent [[oodScreen]] dumped its centroids — per-dir. */
  @volatile private[graft] var OodCentroidDump: String = ""

  /** Embedding OUT-OF-DISTRIBUTION screen (s35) — the representation-space
    * outlier pass a corpus QC runs next to the text-side screens (an
    * embedding far from every density center is a different beast than
    * its source claims: encoder failures, empty inputs, adversarial
    * content, wrong-language leakage): each vector scores its maximum
    * cosine against the IVF coarse centroids (the codegen argmax kernel
    * s4 already runs — the screen is FREE at index-build time), and the
    * bottom DECILE of that affinity, computed without a global sort (the
    * c23 histogram device over the 4-decimal score grid), flags as OOD
    * for review. Output carries the evidence: cell, affinity, decile.
    *
    * Scale shape: one row-local scoring pass (zero shuffle), one
    * value-grain histogram fold broadcast back — corpus-size-independent
    * boundary statistics, the c23/t33 discipline. */
  def oodScreen(spark: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    import graft.functions.CentroidExprs.centroid_argmax
    val emb = t(spark, dir, "embeddings")
    val centMatrix = fitCoarseCentroids(cappedTrainSample(emb), nlist)
    val dump = s"$OracleDumpRoot/s35_centroids_${dirToken(dir)}"
    dumpCentroids(spark, centMatrix, dump)
    OodCentroidDump = dump
    val scored = materialize(emb
      .withColumn("sc", centroid_argmax(col("embedding"), centMatrix))
      .select(col("vec_id"), col("sc.cluster").cast(LongType).as("cell"),
        round(col("sc.cs"), 4).as("best_cs")))
    // max(…, 1): empty-relation guard against a `div 0` literal (ADVICE r10)
    val tot = math.max(scored.count(), 1L)
    val wd = Window.orderBy(col("best_cs").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deciles = scored.groupBy(col("best_cs")).agg(count(lit(1)).as("c"))
      .withColumn("cd", sum(col("c")).over(wd))
      .select(col("best_cs"), expr(s"CAST((10 * cd + $tot - 1) div $tot AS BIGINT)").as("decile"))
    scored.join(broadcast(deciles), Seq("best_cs"))
      .select(col("vec_id"), col("cell"), col("best_cs"), col("decile"),
        (col("decile") === 10).as("ood"))
  }

  /** DuckDB oracle twin of [[oodScreen]] — the s4 score replay from the
    * dumped centroids, argmax with the same tie order, and the same
    * histogram-decile arithmetic. */
  def oodScreenOracleSql: String =
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('$OodCentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | best AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cell, round(cs, 4) AS best_cs
       |          FROM (SELECT vec_id, cluster, cs,
       |                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |                FROM s) x WHERE rnk = 1),
       | h AS (SELECT best_cs, count(*) AS c FROM best GROUP BY best_cs),
       | cum AS (SELECT best_cs, sum(c) OVER (ORDER BY best_cs DESC) AS cd,
       |          (SELECT sum(c) FROM h) AS tot FROM h),
       | d AS (SELECT best_cs, CAST((10 * cd + tot - 1) // tot AS BIGINT) AS decile FROM cum)
       |SELECT b.vec_id, b.cell, b.best_cs, d.decile, (d.decile = 10) AS ood
       |FROM best b JOIN d USING (best_cs)""".stripMargin

  /** One NN-DESCENT refinement round over the s21 kNN graph (s33, Dong et
    * al.'s graph-improvement principle: a neighbor of a neighbor is likely
    * a neighbor): candidates are the current graph's UNDIRECTED edges plus
    * every neighbor-of-a-neighbor along them, scored exactly and re-ranked
    * top-k per source. `gained` marks edges absent from the s21 input
    * graph — the measurable recall the round bought over pure LSH
    * bucketing (an LSH miss is recovered whenever graph distance-2 reaches
    * it).
    *
    * Scale shape: the graph is O(n·k) rows, the expansion joins it with
    * itself on the shared endpoint — O(n·(2k)²) candidates, each scored by
    * the codegen'd `vec_cosine` after two id-equi-joins against the
    * embedding table. Nothing here is all-pairs, and every further descent
    * round costs the same bounded expansion (the standard iterate-until-
    * converged deployment keeps k·(2k)² per round regardless of corpus
    * size). */
  def nnDescent(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    // graph from the at-rest registry (r11): a parquet read, no
    // materialize needed on `g` itself
    val g = knnGraphAtRest(spark, dir, k).select(col("src"), col("nb"))
    val und = materialize(
      g.unionByName(g.select(col("nb").as("src"), col("src").as("nb"))).distinct())
    val nn2 = und.as("g1").join(und.as("g2"), col("g1.nb") === col("g2.src"))
      .select(col("g1.src").as("src"), col("g2.nb").as("nb"))
      .filter(col("src") =!= col("nb"))
    val cand = und.unionByName(nn2).distinct()
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("nb"))
    cand
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("es")), Seq("src"))
      .join(emb.select(col("vec_id").as("nb"), col("embedding").as("en")), Seq("nb"))
      .withColumn("cos", cosine("es", "en"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .join(g.withColumn("base", lit(true)), Seq("src", "nb"), "left_outer")
      .select(col("src"), col("nb"), round(col("cos"), 4).as("cs"), col("rnk"),
        col("base").isNull.as("gained"))
  }

  /** DuckDB oracle twin of [[nnDescent]] — the s21 graph oracle as the
    * base relation, the same undirected closure, distance-2 expansion,
    * exact re-scoring, and tie order. */
  def nnDescentOracleSql(k: Int = 3): String =
    s"""WITH base AS (SELECT src, nb FROM (${knnGraphOracleSql(k)}) bq),
       | und AS (SELECT DISTINCT src, nb FROM (
       |          SELECT src, nb FROM base UNION ALL SELECT nb AS src, src AS nb FROM base) u),
       | nn2 AS (SELECT g1.src AS src, g2.nb AS nb
       |         FROM und g1 JOIN und g2 ON g1.nb = g2.src WHERE g1.src != g2.nb),
       | cand AS (SELECT DISTINCT src, nb FROM (
       |           SELECT src, nb FROM und UNION ALL SELECT src, nb FROM nn2) c),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
       | p AS (SELECT c.src, c.nb,
       |        list_dot_product(ns.emb, nn.emb) / (ns.nrm * nn.nrm) AS cos
       |       FROM cand c JOIN n ns ON ns.vec_id = c.src JOIN n nn ON nn.vec_id = c.nb),
       | r AS (SELECT src, nb, round(cos, 4) AS cs,
       |        row_number() OVER (PARTITION BY src ORDER BY cos DESC, nb) AS rnk FROM p)
       |SELECT r.src, r.nb, r.cs, CAST(r.rnk AS BIGINT) AS rnk,
       | (b.src IS NULL) AS gained
       |FROM r LEFT JOIN base b ON b.src = r.src AND b.nb = r.nb
       |WHERE r.rnk <= $k""".stripMargin

  /** Semi-supervised LABEL PROPAGATION over the s21 kNN graph (s36, Zhu &
    * Ghahramani's transductive principle): every third vector keeps its
    * ground-truth label as a clamped SEED; every other vector is
    * unlabeled and, for `rounds` synchronous rounds, takes the majority
    * label of its (undirected) kNN neighbors from the previous round —
    * ties break to the smallest label, seeds never move. This is how a
    * pipeline stretches a small labeled subset across a 100 TB corpus
    * (domain tags, quality tiers, license classes) without training
    * anything: the kNN index already exists (s21), and each round is a
    * pure relational pass over it.
    *
    * Scale shape: the graph is O(n·k) edges; one round = edges ⋈ labels
    * (two longs per row) + a count aggregate at (node, label) grain + a
    * per-node argmax window — never the embeddings, never all-pairs.
    * Labels only ever GAIN coverage (a node labeled in round r has a
    * labeled neighbor that stays labeled), so a fixed small round count
    * reaches the graph's label frontier like d11's bounded power
    * iteration; each round materializes ([[Tables.materialize]]) to keep
    * lineage O(1). Coverage gaps are honest: an isolated node (no LSH
    * bucket-mate) reports a NULL prediction, not a guess. */
  def labelProp(spark: SparkSession, dir: String, k: Int = 3,
      rounds: Int = 3): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    // graph from the at-rest registry (r11) — label propagation reads the
    // maintained artifact, it does not re-bucket the corpus
    val g = knnGraphAtRest(spark, dir, k).select(col("src"), col("nb"))
    val und = materialize(
      g.unionByName(g.select(col("nb").as("src"), col("src").as("nb"))).distinct())
    val nodes = emb.select(col("vec_id"),
      col("label").cast(LongType).as("true_label"),
      (col("vec_id") % 3 === 0).as("is_seed"))
    var lab = nodes
      .select(col("vec_id"), when(col("is_seed"), col("true_label")).as("lbl"))
      .transform(materialize)
    for (_ <- 1 to rounds) {
      val votes = und
        .join(lab.filter(col("lbl").isNotNull)
          .select(col("vec_id").as("nb"), col("lbl")), Seq("nb"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
      val pick = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("vec_id"), col("lbl").as("vote"))
      lab = nodes
        .join(pick, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          when(col("is_seed"), col("true_label")).otherwise(col("vote")).as("lbl"))
        .transform(materialize)
    }
    nodes.join(lab, Seq("vec_id"))
      .select(col("vec_id"), col("is_seed"), col("true_label"),
        col("lbl").as("pred_label"),
        when(col("lbl").isNotNull, col("lbl") === col("true_label")).as("correct"))
  }

  /** DuckDB oracle twin of [[labelProp]] — the s21 graph oracle as the
    * edge relation, the same seed rule, and each synchronous round
    * unrolled as a votes→argmax→relabel CTE triple. */
  def labelPropOracleSql(k: Int = 3, rounds: Int = 3): String = {
    val roundCtes = (1 to rounds).map { r =>
      s""" v$r AS (SELECT e.src, l.lbl, count(*) AS c
         |        FROM und e JOIN lab${r - 1} l ON l.vec_id = e.nb
         |        WHERE l.lbl IS NOT NULL GROUP BY e.src, l.lbl),
         | p$r AS (SELECT src AS vec_id, lbl AS vote FROM (
         |          SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |          FROM v$r) q WHERE rn = 1),
         | lab$r AS (SELECT n.vec_id,
         |            CASE WHEN n.is_seed THEN n.true_label ELSE p.vote END AS lbl
         |           FROM nodes n LEFT JOIN p$r p ON p.vec_id = n.vec_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT src, nb FROM (${knnGraphOracleSql(k)}) bq),
       | und AS (SELECT DISTINCT src, nb FROM (
       |          SELECT src, nb FROM base UNION ALL SELECT nb AS src, src AS nb FROM base) u),
       | nodes AS (SELECT vec_id, CAST(label AS BIGINT) AS true_label,
       |            vec_id % 3 = 0 AS is_seed FROM embeddings),
       | lab0 AS (SELECT vec_id, CASE WHEN is_seed THEN true_label END AS lbl FROM nodes),
       |$roundCtes
       |SELECT n.vec_id, n.is_seed, n.true_label, l.lbl AS pred_label,
       | CASE WHEN l.lbl IS NOT NULL THEN l.lbl = n.true_label END AS correct
       |FROM nodes n JOIN lab$rounds l ON l.vec_id = n.vec_id""".stripMargin
  }

  /** kNN-classifier CONFUSION MATRIX over the s21 graph (s37) — the
    * class-grain eval report for the INDEX-backed classifier: every
    * vector with graph neighbors gets the majority label of its kNN
    * edges (ties to the smallest label — the s9 vote, served from the
    * index instead of a flat scan), and the gate is the normalized
    * confusion matrix: per (true, predicted) cell, the count and the
    * row fraction. s9 serves per-query predictions on an eval slice;
    * s11 grades the INDEX's recall; this grades the CLASSIFIER at class
    * grain over the whole corpus — the artifact a labeling pipeline
    * actually reviews before trusting propagated labels (which classes
    * bleed into which).
    *
    * Scale shape: the vote is one equi-join of the O(n·k) edge relation
    * against labels + a (node, label) count + per-node argmax window
    * (WindowGroupLimit pushes the rank-1 cut into the exchange); the
    * matrix fold is label² grain. Nothing touches embeddings. */
  def knnConfusion(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast(LongType).as("lbl"))
    val g = knnGraphAtRest(spark, dir, k).select(col("src"), col("nb"))
    val votes = g.join(emb.select(col("vec_id").as("nb"), col("lbl")), Seq("nb"))
      .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
    val pred = votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("src").as("vec_id"), col("lbl").as("pred"))
    val cells = pred
      .join(emb.select(col("vec_id"), col("lbl").as("true_label")), Seq("vec_id"))
      .groupBy(col("true_label"), col("pred").as("pred_label"))
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy(col("true_label"))
    cells
      .withColumn("n_true", sum(col("n")).over(wt))
      .select(col("true_label"), col("pred_label"), col("n"), col("n_true"),
        outd(col("n").cast(DoubleType) / col("n_true"), 4).as("row_frac"))
  }

  /** DuckDB oracle twin of [[knnConfusion]] — the s21 graph oracle as
    * the edge relation, the same vote, argmax tie order, and matrix
    * normalization. */
  def knnConfusionOracleSql(k: Int = 3): String =
    s"""WITH base AS (SELECT src, nb FROM (${knnGraphOracleSql(k)}) bq),
       | votes AS (SELECT b.src, CAST(e.label AS BIGINT) AS lbl, count(*) AS c
       |           FROM base b JOIN embeddings e ON e.vec_id = b.nb
       |           GROUP BY b.src, e.label),
       | pred AS (SELECT src AS vec_id, lbl AS pred FROM (
       |            SELECT src, lbl,
       |             row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
       |            FROM votes) q WHERE rn = 1),
       | cells AS (SELECT CAST(e.label AS BIGINT) AS true_label, p.pred AS pred_label,
       |            count(*) AS n
       |           FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
       |           GROUP BY 1, 2),
       | m AS (SELECT true_label, pred_label, n,
       |        sum(n) OVER (PARTITION BY true_label) AS n_true FROM cells)
       |SELECT true_label, pred_label, CAST(n AS BIGINT) AS n,
       | CAST(n_true AS BIGINT) AS n_true,
       | round(CAST(n AS DOUBLE) / n_true, 4) AS row_frac
       |FROM m""".stripMargin

  // ---------------- two-stage residual quantization (s38) ----------------

  /** Where the most recent [[residualQuantizer]] call dumped its fitted
    * stage-1 centroids / stage-2 residual codebook — per-dir (the
    * s22/s25 `dirToken` convention). */
  @volatile private[ops] var RqCentroidDump: String = s"$OracleDumpRoot/s38_c1"
  @volatile private[ops] var RqCodebookDump: String = s"$OracleDumpRoot/s38_c2"

  /** Per-dir cache of the s38 two-stage fit (stage-1 centroids, stage-2
    * residual codebook) — fitting is ingest-time work, queries reuse it
    * (the s6/s25 cached-fit discipline). */
  private[graft] val rqFitReg = graft.core.AtRestRegistry[
    (Array[Array[Double]], Array[Array[Double]])]("sim.s38_rqfit", arity = 3)

  /** Squared-L2 argmin of `v` against a small fitted centroid matrix, as
    * one codegen-friendly expression: per centroid a sequential
    * `zip_with`+fold distance (index order — the same summation order as
    * DuckDB's `list_dot_product`, the s21-proven cross-engine contract),
    * then `array_min` over (dist, cluster) structs — lexicographic min,
    * ties to the smallest cluster id. */
  private def l2Best(v: Column, cents: Array[Array[Double]]): Column =
    array_min(array(cents.zipWithIndex.map { case (c, j) =>
      struct(
        aggregate(
          zip_with(v, array(c.map(lit): _*), (x, y) => {
            val d = x.cast(DoubleType) - y; d * d
          }),
          lit(0.0), (acc, z) => acc + z).as("dist"),
        lit(j).as("cluster"))
    }: _*))

  /** Two-stage RESIDUAL quantization (s38, the RQ/AQ family production
    * ANN systems use between plain PQ and full-precision): stage 1
    * assigns each vector to its nearest (squared-L2) coarse centroid,
    * stage 2 quantizes the RESIDUAL against a codebook fitted on
    * residuals — reconstruction error drops from ‖r‖² (coarse-only) to
    * ‖r − c₂‖², and the report carries both so the distortion the second
    * stage buys is measurable per vector. Complements the existing
    * lattice: SQ8 (s5/s26) scales components, PQ (s7) splits dimensions,
    * RQ refines the coarse cell additively.
    *
    * Scale shape: both fits are bounded by [[IvfTrainCap]] and cached
    * per dir (ingest-time work); the corpus pass is ONE map-only select
    * — two inlined argmin kernels and a residual `zip_with`, zero
    * shuffle, no join (the s6 assignment discipline). Both codebooks
    * dump to parquet so the oracle replays assignment + error from the
    * same constants. */
  def residualQuantizer(spark: SparkSession, dir: String, k1: Int = 8,
      k2: Int = 16): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    // keyed by the FULL fit tuple (dir, k1, k2) — the build consumes all
    // three (a dir-only key was the r11 ivfAtRest bug class)
    val (c1, c2) = rqFitReg.getOrBuild(dir, k1, k2) {
      val train = cappedTrainSample(emb)
      val cc1 = fitCoarseCentroids(train, k1, seed = 13)
      val residuals = train.map { p =>
        val j = cc1.indices.minBy { i =>
          var s = 0.0; var d = 0
          while (d < p.length) { val t = p(d) - cc1(i)(d); s += t * t; d += 1 }
          s
        }
        p.indices.map(d => p(d) - cc1(j)(d)).toArray
      }
      val cc2 = lloydLocal(residuals, k2, maxIter = 10, seed = 17)
      (cc1, cc2)
    }
    RqCentroidDump = rqFitReg.pathFor(OracleDumpRoot, "s38_c1", dir, k1, k2)
    RqCodebookDump = rqFitReg.pathFor(OracleDumpRoot, "s38_c2", dir, k1, k2)
    dumpCentroids(spark, c1, RqCentroidDump)
    dumpCentroids(spark, c2, RqCodebookDump)
    val c1Arr = array(c1.map(c => array(c.map(lit): _*)): _*)
    emb
      .select(col("vec_id"), col("embedding"), l2Best(col("embedding"), c1).as("b1"))
      .select(col("vec_id"), col("b1.cluster").cast(LongType).as("cell"),
        col("b1.dist").as("e1"),
        zip_with(col("embedding"), element_at(c1Arr, col("b1.cluster") + 1),
          (x, y) => x.cast(DoubleType) - y).as("r"))
      .select(col("vec_id"), col("cell"), col("e1"), l2Best(col("r"), c2).as("b2"))
      .select(col("vec_id"), col("cell"), col("b2.cluster").cast(LongType).as("code"),
        outd(col("e1"), 4).as("err1"), outd(col("b2.dist"), 4).as("err2"))
  }

  /** DuckDB oracle twin of [[residualQuantizer]] — both codebooks read
    * from the dumps, the same sequential squared-L2 distances
    * (`list_dot_product` of the difference list), tie orders, and
    * rounding. */
  def residualQuantizerOracleSql: String =
    s"""WITH c1 AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cent
       |            FROM read_parquet('$RqCentroidDump/*.parquet')),
       | c2 AS (SELECT cluster AS code, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS cent
       |        FROM read_parquet('$RqCodebookDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       | d1 AS (SELECT vec_id, emb, cluster, cent, list_dot_product(l, l) AS dist FROM (
       |          SELECT vec_id, emb, cluster, cent,
       |           [emb[i] - cent[i] FOR i IN range(1, len(emb) + 1)] AS l
       |          FROM e, c1) z1),
       | a1 AS (SELECT vec_id, emb, cluster, cent, dist,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rnk FROM d1),
       | r AS (SELECT vec_id, cluster AS cell, dist AS e1,
       |        [emb[i] - cent[i] FOR i IN range(1, len(emb) + 1)] AS res
       |       FROM a1 WHERE rnk = 1),
       | d2 AS (SELECT vec_id, cell, e1, code, list_dot_product(l2, l2) AS dist2 FROM (
       |          SELECT r.vec_id, r.cell, r.e1, c2.code,
       |           [res[i] - cent[i] FOR i IN range(1, len(res) + 1)] AS l2
       |          FROM r, c2) z2),
       | a2 AS (SELECT vec_id, cell, e1, code, dist2,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY dist2, code) AS rnk FROM d2)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(code AS BIGINT) AS code,
       | round(e1, 4) AS err1, round(dist2, 4) AS err2
       |FROM a2 WHERE rnk = 1""".stripMargin

  // ---------------- incremental IVF index maintenance (s39) ----------------

  /** Every 10th vector plays the newly-arrived shard (the d7 DeltaMod
    * convention, vector side). */
  val VecDeltaMod = 10

  /** Where the most recent [[ivfDelta]] dumped its at-rest artifacts —
    * per-dir (the s22/s35 `dirToken` convention). */
  @volatile private[graft] var S39CentroidDump: String = ""
  @volatile private[graft] var S39CellsDump: String = ""

  /** Per-JVM registry of the at-rest IVF index per dir: the coarse
    * centroid matrix (in memory, for the delta's row-local argmax) plus
    * the dumped centroid + standing-cell-census parquet paths. */
  private[graft] val s39FitReg = graft.core.AtRestRegistry[
    (Array[Array[Double]], String, String)]("sim.s39_ivf", arity = 2)

  /** INCREMENTAL IVF index maintenance (s39) — the d7/d8/d20 standing-
    * pipeline posture applied to the VECTOR index: a new embedding shard
    * (the delta) is assigned against the index's centroids AT REST —
    * never a refit, never a corpus re-scan — and the report is the
    * cell-grain health check an index operator reviews before serving the
    * merged index: standing vs delta occupancy per cell, both mean
    * assignment cosines (distribution drift shows as the delta scoring
    * systematically worse), and a `hot` verdict where a cell's delta
    * share exceeds 2× its standing share (cross-multiplied integers — the
    * a24/a41 no-division discipline; such cells are the re-split
    * candidates). s4 builds and serves the index, s22 audits its balance
    * at rest, s34 adapts probe depth — this is the day-2 operation in
    * between: keeping the index current as shards land.
    *
    * Scale shape: fit + standing census are once-per-index artifacts
    * (capped sample; one standing assignment pass at build, maintained by
    * ingest thereafter); the per-shard query touches ONLY the delta (one
    * row-local codegen argmax pass + a cell-grain fold) and joins the
    * 16-row census — per-shard cost O(delta + nlist), not O(corpus).
    * Totals attach via an unpartitioned window over the ≤nlist-row cell
    * relation (the c7 fold — no one-row cross join enters the plan). */
  /** The at-rest IVF index for `dir`: coarse centroids fit on the STANDING
    * corpus (capped sample), the centroid dump, and the standing cell
    * census dump (cell, n_standing, s_sum) — built once per JVM, the
    * artifact [[ivfDelta]] (batch upkeep) and the e28 streaming upkeep
    * both read. Sets the oracle dump vars (same per-dir values from every
    * caller — the q33/q36 convention). */
  private[graft] def ivfAtRest(spark: SparkSession, dir: String,
      nlist: Int = 16): (Array[Array[Double]], String, String) = {
    import graft.functions.CentroidExprs.centroid_argmax
    // keyed by (dir, nlist) — ADVICE r11: a dir-only key would hand a
    // non-default-nlist caller the first toucher's centroids and census
    val fit = s39FitReg.getOrBuild(dir, nlist) {
      val emb = t(spark, dir, "embeddings")
      val standing = emb.filter(pmod(col("vec_id"), lit(VecDeltaMod)) =!= 0)
      val cc = fitCoarseCentroids(cappedTrainSample(standing), nlist)
      val cPath = s39FitReg.pathFor(OracleDumpRoot, "s39_centroids", dir, nlist)
      dumpCentroids(spark, cc, cPath)
      val cellsPath = s39FitReg.pathFor(OracleDumpRoot, "s39_cells", dir, nlist)
      standing
        .withColumn("sc", centroid_argmax(col("embedding"), cc))
        .select(col("sc.cluster").cast(LongType).as("cell"),
          round(col("sc.cs"), 4).cast(DecimalType(18, 4)).as("cs"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_standing"), sum(col("cs")).as("s_sum"))
        .write.mode("overwrite").parquet(cellsPath)
      (cc, cPath, cellsPath)
    }
    S39CentroidDump = fit._2
    S39CellsDump = fit._3
    fit
  }

  def ivfDelta(spark: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    import graft.functions.CentroidExprs.centroid_argmax
    val emb = t(spark, dir, "embeddings")
    val dec = DecimalType(18, 4)
    val (cents, _, cellPath) = ivfAtRest(spark, dir, nlist)
    val deltaCells = emb.filter(pmod(col("vec_id"), lit(VecDeltaMod)) === 0)
      .withColumn("sc", centroid_argmax(col("embedding"), cents))
      .select(col("sc.cluster").cast(LongType).as("cell"),
        round(col("sc.cs"), 4).cast(dec).as("cs"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_delta"), sum(col("cs")).as("d_sum"))
    val atRest = parquet(spark, cellPath)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    atRest.join(deltaCells, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_standing"), lit(0L)).as("n_standing"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        col("s_sum"), col("d_sum"))
      .withColumn("tot_standing", sum(col("n_standing")).over(wAll))
      .withColumn("tot_delta", sum(col("n_delta")).over(wAll))
      .select(col("cell"), col("n_standing"), col("n_delta"),
        when(col("n_standing") > 0,
          round(col("s_sum").cast(DoubleType) / col("n_standing"), 4)).as("mean_cs_standing"),
        when(col("n_delta") > 0,
          round(col("d_sum").cast(DoubleType) / col("n_delta"), 4)).as("mean_cs_delta"),
        (col("n_delta") * col("tot_standing") > col("n_standing") * col("tot_delta") * 2)
          .as("hot"))
  }

  /** DuckDB oracle twin of [[ivfDelta]] — the standing census read from
    * the at-rest dump (the engine never recomputes it either), the delta
    * assignment replayed from the dumped centroids with the s35 score
    * formula and tie order, and the same decimal folds and
    * cross-multiplied verdict. */
  def ivfDeltaOracleSql: String =
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('$S39CentroidDump/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |       FROM embeddings WHERE vec_id % $VecDeltaMod = 0),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | asg AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cell,
       |          CAST(round(cs, 4) AS DECIMAL(18,4)) AS cs FROM (
       |          SELECT vec_id, cluster, cs,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | d AS (SELECT cell, count(*) AS n_delta, sum(cs) AS d_sum FROM asg GROUP BY cell),
       | r AS (SELECT cell, n_standing, s_sum FROM read_parquet('$S39CellsDump/*.parquet')),
       | j AS (SELECT coalesce(r.cell, d.cell) AS cell,
       |        coalesce(r.n_standing, 0) AS n_standing, coalesce(d.n_delta, 0) AS n_delta,
       |        r.s_sum, d.d_sum
       |       FROM r FULL OUTER JOIN d ON r.cell = d.cell),
       | tt AS (SELECT *, sum(n_standing) OVER () AS tot_standing,
       |         sum(n_delta) OVER () AS tot_delta FROM j)
       |SELECT cell, CAST(n_standing AS BIGINT) AS n_standing,
       | CAST(n_delta AS BIGINT) AS n_delta,
       | CASE WHEN n_standing > 0 THEN round(CAST(s_sum AS DOUBLE) / n_standing, 4) END AS mean_cs_standing,
       | CASE WHEN n_delta > 0 THEN round(CAST(d_sum AS DOUBLE) / n_delta, 4) END AS mean_cs_delta,
       | (n_delta * tot_standing > n_standing * tot_delta * 2) AS hot
       |FROM tt""".stripMargin
}
