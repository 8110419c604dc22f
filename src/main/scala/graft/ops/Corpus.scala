package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Corpus-preparation operators for training-data pipelines: deterministic
  * train/val/test splits and sequence packing.
  *
  * Both are pure per-row / per-window arithmetic with no driver state, so
  * they scale embarrassingly: the split is a stateless hash of the document
  * id, and packing windows are partitioned by `source` (the shard unit), so
  * no global ordering is ever materialized.
  */
object Corpus {

  /** Deterministic percentile bucket (0-99) from the md5 of the document id.
    * Content-independent (re-ingesting identical text under a new id moves
    * it), engine-portable (md5 + hex-prefix arithmetic reproduce bit-exactly
    * in any SQL engine), and stable under corpus growth — a document never
    * changes split when others are added, unlike `randomSplit`, which
    * reshuffles every run and every repartition. Uses the first 4 hex chars
    * (16 bits) so the mod-100 bias is ≤ 1/655 — negligible for split
    * purposes and identical in both engines. */
  private[ops] def hashBucket(id: Column, span: Int = 100): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10).cast("long") % span

  /** The split label as a pure function of a doc-id column — shared by
    * [[splitAssign]] and row-local consumers like [[splitLeakage]] that
    * re-derive the label on pair relations instead of joining the corpus. */
  private[ops] def splitOf(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val b = hashBucket(id)
    when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test")
  }

  /** Assign every document to train/val/test by deterministic hash bucket:
    * bucket < trainPct → train, < trainPct+valPct → val, else test.
    * Output: (doc_id, lang, bucket, split) — lang retained so downstream
    * can check stratification. */
  def splitAssign(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"invalid split percentages ($trainPct, $valPct)")
    docs.select(col("doc_id"), col("lang"), hashBucket(col("doc_id")).as("bucket"))
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** DuckDB oracle twin of [[splitAssign]]: same md5-prefix arithmetic
    * (`CAST('0x'||substr(md5(..),1,4) AS INTEGER)` ≡ Spark
    * `conv(substring(md5(..),1,4),16,10)`). */
  def splitAssignOracleSql(trainPct: Int = 80, valPct: Int = 10): String =
    s"""SELECT doc_id, lang, bucket,
       | CASE WHEN bucket < $trainPct THEN 'train'
       |      WHEN bucket < ${trainPct + valPct} THEN 'val'
       |      ELSE 'test' END AS split
       |FROM (SELECT doc_id, lang,
       |       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
       |      FROM documents) b""".stripMargin

  /** Cross-split contamination audit (c16) — the eval-integrity check every
    * benchmark-quality pipeline must run AFTER splitting: a val/test
    * document that near-duplicates a train document is memorization leakage
    * (the split was clean at the doc-id level, but the CONTENT crossed it).
    * Composes two gated relations: the t7 hash split and the d3 near-dup
    * pair relation — the report is the per-(split, split) pair matrix with
    * the distinct documents implicated on each side (the actionable count:
    * which eval docs must be dropped).
    *
    * Scale shape: the pair relation is the LSH-bounded d3 output (never
    * all-pairs), and the split label is a PURE FUNCTION of doc_id
    * ([[splitOf]]) re-derived row-locally on the pairs — no join against
    * the corpus at all; the final fold is a ≤6-row aggregation. */
  def splitLeakage(docs: DataFrame, minJ: Double = 0.8,
      pairs: Option[DataFrame] = None): DataFrame =
    pairs.getOrElse(Dedup.minhashPairs(docs, minJ))
      .select(col("a"), col("b"), splitOf(col("a")).as("sa"), splitOf(col("b")).as("sb"))
      .select(
        least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"),
        when(col("sa") <= col("sb"), col("a")).otherwise(col("b")).as("doc_lo"),
        when(col("sa") <= col("sb"), col("b")).otherwise(col("a")).as("doc_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("doc_lo")).as("n_docs_lo"),
        count_distinct(col("doc_hi")).as("n_docs_hi"))

  /** Seeded epoch shuffle (c17) — reproducible training data ORDER: for
    * each epoch, every document gets a deterministic position hash
    * `md5(epoch || ':' || doc_id)`, is routed to a shard by the hash's
    * leading hex digit, and is ordered within its shard by the full hash —
    * the layout a multi-epoch training run reads sequentially. Unlike
    * `orderBy(rand())`, the permutation is a PURE FUNCTION of
    * (epoch, doc_id): re-running a crashed epoch reproduces byte-identical
    * shards, and different epochs decorrelate. The gate hashes each
    * shard's ORDERED doc_id sequence, so any nondeterminism or order drift
    * fails cross-engine.
    *
    * Scale shape: hashing and routing are row-local; at 100 TB the
    * within-shard order is realized as `repartition(shard)` +
    * `sortWithinPartitions(h)` at write time (one shuffle — the shuffle IS
    * the epoch permutation); the gate folds each shard's order into one
    * md5 via a bounded per-shard sort (shards are corpus/16 here). */
  def epochShuffle(docs: DataFrame, epochs: Int = 2): DataFrame = {
    val e = docs.select(col("doc_id"))
      .crossJoin(broadcast(
        docs.sparkSession.range(0, epochs).select(col("id").cast("int").as("epoch"))))
      .withColumn("h", md5(concat(col("epoch").cast("string"), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", (conv(substring(col("h"), 1, 1), 16, 10) % 16).cast(LongType))
    e.groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        md5(concat_ws(",",
          transform(array_sort(collect_list(struct(col("h"), col("doc_id")))),
            x => x.getField("doc_id").cast("string")))).as("order_md5"))
  }

  /** DuckDB oracle twin of [[epochShuffle]] — same hash, routing, and
    * ordered fold. */
  def epochShuffleOracleSql(epochs: Int = 2): String =
    s"""WITH e AS (SELECT d.doc_id, ep.epoch,
       |            md5(CAST(ep.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)) AS h
       |           FROM documents d,
       |                (SELECT unnest(range(0, $epochs)) AS epoch) ep),
       | s AS (SELECT epoch, CAST(CAST('0x' || substr(h, 1, 1) AS INTEGER) % 16 AS BIGINT) AS shard,
       |        h, doc_id FROM e)
       |SELECT CAST(epoch AS INT) AS epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
       | md5(array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY h, doc_id), ',')) AS order_md5
       |FROM s GROUP BY epoch, shard""".stripMargin

  /** Greedy sequence packing: documents are concatenated in deterministic
    * order within each `source` shard and cut into fixed token budgets —
    * the standard pre-training layout (a document starting in pack `p` may
    * straddle into `p+1`; `pack_id` is the pack its first token lands in,
    * `off` its offset in the shard's token stream).
    *
    * Scale shape: one window per source shard (the natural packing unit —
    * a global order would serialize the corpus through one partition);
    * within a shard it is a running sum over (doc_id) order, which Spark
    * executes as a single sort per partition of the shard hash — no
    * driver-side state, no iteration. */
  def packAssignments(docs: DataFrame, budgetTokens: Int = 512): DataFrame =
    packFromCounts(docs.select(col("source"), col("doc_id"),
      size(split(col("text"), "\\s+")).cast("long").as("n_tok")), budgetTokens)

  /** [[packAssignments]]'s window over an already-counted
    * (source, doc_id, n_tok) relation — the seam the c34 release export
    * packs its survivors through: the token counts are already in its
    * staged relation, and re-carrying text through the release joins just
    * to re-tokenize would double the widest shuffle for nothing. */
  def packFromCounts(counts: DataFrame, budgetTokens: Int = 512): DataFrame = {
    require(budgetTokens > 0, "budget must be positive")
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"off div $budgetTokens"))
  }

  /** Weighted mixture downsampling: each source shard keeps a deterministic
    * fraction of its documents — the domain-mixing step of a training-data
    * pipeline (web vs books vs code weights). The keep rate per source and
    * the per-document keep decision are BOTH md5-prefix hashes, so the
    * sample is reproducible, growth-stable (a document's fate never depends
    * on other documents), and exactly replicable in any SQL engine. Rates
    * land in [lo, lo+span): by default 30-99% so every source is sampled
    * but none is emptied. Stateless per-row arithmetic — no shuffle at all
    * until whatever aggregates downstream. */
  def mixtureSample(docs: DataFrame, rateLo: Int = 30, rateSpan: Int = 70): DataFrame = {
    require(rateLo >= 0 && rateSpan > 0 && rateLo + rateSpan <= 100, "invalid rate window")
    docs.select(col("doc_id"), col("source"),
        (conv(substring(md5(col("source")), 1, 2), 16, 10).cast("long") % rateSpan + rateLo)
          .as("rate"),
        hashBucket(col("doc_id")).as("bucket"))
      .withColumn("kept", col("bucket") < col("rate"))
  }

  /** DuckDB oracle twin of [[mixtureSample]]. */
  def mixtureSampleOracleSql(rateLo: Int = 30, rateSpan: Int = 70): String =
    s"""SELECT doc_id, source, rate, bucket, bucket < rate AS kept
       |FROM (SELECT doc_id, source,
       |       CAST(CAST('0x' || substr(md5(source), 1, 2) AS INTEGER) % $rateSpan + $rateLo AS BIGINT) AS rate,
       |       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS BIGINT) AS bucket
       |      FROM documents) s""".stripMargin

  /** Deterministic per-stratum quota sampling: exactly `quota` documents
    * per `source` stratum (fewer when the stratum is smaller) — the
    * fixed-size companion to the rate-based [[mixtureSample]], and the
    * standard construction for balanced eval/calibration sets. Selection
    * order is the md5 of the document id, so the sample is a uniform,
    * reproducible, growth-stable shuffle of each stratum (appending
    * documents can displace at most the quota boundary, never reorder the
    * chosen prefix arbitrarily).
    *
    * Scale shape: one window per stratum whose rank-filter plans as
    * WindowGroupLimit (per-partition top-k before the exchange), so the
    * shuffle carries at most `quota` rows per stratum per input partition
    * — never the corpus. */
  def quotaSample(docs: DataFrame, quota: Int = 10): DataFrame = {
    require(quota > 0, "quota must be positive")
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= quota)
  }

  /** DuckDB oracle twin of [[quotaSample]] — md5 hex strings collate
    * identically (lowercase hex, byte order) in both engines. */
  def quotaSampleOracleSql(quota: Int = 10): String =
    s"""SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
       |FROM (SELECT doc_id, source,
       |       row_number() OVER (PARTITION BY source
       |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |      FROM documents) s
       |WHERE rn <= $quota""".stripMargin

  /** Temperature-scaled source rebalancing (c7) — the multilingual/source
    * mixing rule (α = 0.5 here): downsample each `source` so expected kept
    * counts are ∝ n_s^α instead of n_s, flattening the head without
    * starving the tail. Acceptance rate r_s = sqrt(n_min / n_s) — the
    * smallest source keeps everything, a source 100× larger keeps 1/10.
    * Unlike [[mixtureSample]] (rates assigned per source a priori) the
    * rates here are fitted FROM the data distribution, so the op is
    * re-runnable as the corpus drifts.
    *
    * α is fixed at 1/2 because sqrt, division, and multiplication are all
    * exactly-rounded IEEE ops — bit-identical in the JVM and DuckDB, so
    * the floor to basis points can never straddle engines. (A production
    * α knob would use pow and gate on a rounded rate instead.)
    *
    * Scale shape: source counts are one map-side-combined aggregate over a
    * single column; the per-source rate table is broadcast back; keep/drop
    * is a row-local hash test — one scan, no corpus-wide shuffle. Growth-
    * stable like every hash sampler here. */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val n = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    // n_min via a window over the (tiny, one-row-per-source) count relation
    // — a separate agg + 1-row attach would re-plan the count fit and cost
    // a second corpus scan under AQE (the lineage-reuse trap, pinned in
    // PlanShapeSpec)
    val rates = n
      .withColumn("n_min", min(col("n_src")).over(Window.partitionBy(lit(1))))
      .select(col("source"), col("n_src"),
        floor(sqrt(col("n_min").cast(DoubleType) / col("n_src").cast(DoubleType)) * 10000)
          .cast(LongType).as("rate_bp"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), Seq("source"))
      .withColumn("bucket", hashBucket(col("doc_id"), 10000))
      .withColumn("kept", col("bucket") < col("rate_bp"))
  }

  /** DuckDB oracle twin of [[temperatureMix]] — same IEEE-exact rate
    * arithmetic, same 16-bit hash bucket mod 10000. */
  def temperatureMixOracleSql: String =
    """WITH n AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
      | mn AS (SELECT min(n_src) AS n_min FROM n),
      | r AS (SELECT source, n_src,
      |        CAST(floor(sqrt(CAST(mn.n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) * 10000) AS BIGINT) AS rate_bp
      |       FROM n, mn),
      | d AS (SELECT doc_id, source,
      |        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 10000 AS BIGINT) AS bucket
      |       FROM documents)
      |SELECT d.doc_id, d.source, r.n_src, r.rate_bp, d.bucket,
      |       d.bucket < r.rate_bp AS kept
      |FROM d JOIN r USING (source)""".stripMargin

  /** Token-budget sampling: fill each `source` stratum with documents — in
    * deterministic md5 order, like [[quotaSample]] — until the RUNNING
    * token total would exceed `budgetTokens`. This is how a training
    * mixture is actually filled ("2B tokens of web, 500M of code"): the
    * unit that matters is tokens, not documents, so a doc-count quota
    * over- or under-fills by the length distribution.
    *
    * Scale shape: one window per stratum (running sum over the hash
    * order); the filter is monotone in the running sum. Growth-stable like
    * every hash-ordered sampler here: adding documents only perturbs the
    * boundary of the kept prefix. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long = 1000): DataFrame = {
    require(budgetTokens > 0, "budget must be positive")
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budgetTokens)
  }

  /** DuckDB oracle twin of [[tokenBudgetSample]]. */
  def tokenBudgetSampleOracleSql(budgetTokens: Long = 1000): String =
    s"""SELECT doc_id, source, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
       |FROM (SELECT doc_id, source, n_tok,
       |       sum(n_tok) OVER (PARTITION BY source
       |         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
       |      FROM (SELECT doc_id, source,
       |             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
       |            FROM documents) t) s
       |WHERE cum_tok <= $budgetTokens""".stripMargin

  /** End-to-end curation decision table — the composition a real corpus
    * pipeline runs before training: language ID, quality score, exact-dup
    * canonicalization, and split assignment, joined per document into one
    * relation with the final keep/drop decision
    * (`kept = is_canonical AND quality ≥ minQuality`).
    *
    * Every stage is an existing operator ([[TextOps.langId]],
    * [[TextOps.qualityScores]], [[Dedup.exactDuplicates]],
    * [[splitAssign]]); the joins are all doc-keyed equi-joins, so the whole
    * pipeline is one shuffle stage per operator with no widening — the
    * plan a 1000-executor run wants. */
  def curationReport(docs: DataFrame, minQuality: Double = 1.4): DataFrame = {
    val lid = TextOps.langId(docs).select(col("doc_id"), col("pred_lang"), col("conf"))
    val q = TextOps.qualityScores(docs).select(col("doc_id"), col("quality"))
    val canon = docs.select(col("doc_id"),
      (col("doc_id") === min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .as("is_canonical"))
    val split = splitAssign(docs).select(col("doc_id"), col("split"))
    docs.select(col("doc_id"))
      .join(lid, Seq("doc_id")).join(q, Seq("doc_id"))
      .join(canon, Seq("doc_id")).join(split, Seq("doc_id"))
      .withColumn("kept", col("is_canonical") && col("quality") >= minQuality)
  }

  /** DuckDB oracle twin of [[curationReport]], composed from the stage
    * oracles (language ID from [[TextOps.langIdOracleSql]] and quality from
    * [[TextOps.qualityOracleSql]] verbatim, so neither the profiles nor the
    * score arithmetic can drift). */
  def curationReportOracleSql(minQuality: Double = 1.4): String =
    s"""SELECT d.doc_id, lid.pred_lang, lid.conf, q.quality, k.is_canonical, s.split,
       | (k.is_canonical AND q.quality >= $minQuality) AS kept
       |FROM documents d
       |JOIN (${TextOps.langIdOracleSql}) lid USING (doc_id)
       |JOIN (SELECT doc_id, quality FROM (${TextOps.qualityOracleSql.replace("\n", "\n      ")}) qq) q USING (doc_id)
       |JOIN (SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_canonical
       |      FROM documents) k USING (doc_id)
       |JOIN (${splitAssignOracleSql().replace("\n", "\n      ")}) s USING (doc_id)""".stripMargin

  /** Word n-grams per document as space-joined strings (no per-doc dedup —
    * callers aggregate). Documents shorter than `n` tokens produce no grams
    * (the guard also keeps Spark's `sequence` from generating a DESCENDING
    * range when `size - n + 1 < 1`). */
  private[ops] def ngramsOf(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(
        expr(s"transform(sequence(1, size(toks) - ${n - 1}), i -> array_join(slice(toks, i, $n), ' '))"))
        .as("gram"))

  /** Benchmark decontamination: flag training documents sharing any word
    * `n`-gram with the held-out evaluation set (here the deterministic
    * pseudo-benchmark `doc_id % evalMod == 0`) — the standard guard against
    * test-set leakage into a training corpus.
    *
    * Scale shape: evaluation benchmarks are small by nature, so the eval
    * n-gram set is BROADCAST and the corpus side streams through a map-side
    * equi-join — the 100 TB corpus is never shuffled on gram; the only
    * corpus-grain exchange is the final per-document hit count. Output: one
    * row per training document with its distinct-hit count and the
    * contamination flag. */
  def decontaminate(docs: DataFrame, evalMod: Int = 97, n: Int = 8): DataFrame = {
    require(evalMod > 1 && n > 0, "need evalMod > 1 and n > 0")
    val grams = ngramsOf(docs, n)
    val isEval = col("doc_id") % evalMod === 0
    val evalGrams = grams.filter(isEval).select(col("gram")).distinct()
    val hits = grams.filter(!isEval)
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_hits"))
    docs.filter(!isEval).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Per-JVM registry of c3's verbatim per-document contamination relation
    * (doc_id, n_hits, contaminated) per (dir, evalMod, n) — the at-rest
    * posture for the screen's standing output: the first toucher executes
    * the real n-gram overlap join ([[decontaminate]] — the gate still runs
    * the algorithm) and dumps; c3's re-runs and the c33 ledger read
    * parquet. At 100 TB the screen's output is a maintained artifact of
    * the decontamination pass, not something a downstream ledger
    * re-derives from text. */
  private[graft] val verbatimReg =
    graft.core.AtRestRegistry[String]("corpus.c3_verbatim", arity = 3)

  /** Test/audit seam: clear the decontamination registries so a
    * measurement harness can time the cold builds (mirrors
    * [[graft.ops.Dedup.resetPairRegistryForTests]]). */
  private[graft] def resetAtRestRegistriesForTests(): Unit = {
    verbatimReg.reset(); fuzzyPairReg.reset()
  }

  private[graft] def decontaminateAtRest(spark: SparkSession, dir: String,
      evalMod: Int = 97, n: Int = 8): DataFrame = {
    val path = verbatimReg.getOrBuild(dir, evalMod, n) {
      val p = verbatimReg.pathFor(Similarity.OracleDumpRoot, "c3_verbatim", dir, evalMod, n)
      decontaminate(Tables.t(spark, dir, "documents"), evalMod, n)
        .write.mode("overwrite").parquet(p)
      p
    }
    Tables.parquet(spark, path)
  }

  /** DuckDB oracle twin of [[decontaminate]] — same n-grams (list slices are
    * 1-based inclusive, so `t[i:i+n-1]` is the Spark `slice(toks, i, n)`),
    * same eval split, same distinct-hit count (sums cast: DuckDB aggregates
    * BIGINT into HUGEINT, which would surface as DOUBLE). */
  def decontaminateOracleSql(evalMod: Int = 97, n: Int = 8): String =
    s"""WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       | grams AS (SELECT doc_id,
       |            unnest([array_to_string(t[i:i+${n - 1}], ' ') FOR i IN range(1, len(t) - ${n - 2})]) AS gram
       |           FROM toks WHERE len(t) >= $n),
       | eg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % $evalMod = 0),
       | hits AS (SELECT doc_id, count(DISTINCT gram) AS n_hits
       |          FROM grams JOIN eg USING (gram) WHERE doc_id % $evalMod <> 0 GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |       COALESCE(h.n_hits, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN hits h USING (doc_id)
       |WHERE d.doc_id % $evalMod <> 0""".stripMargin

  private[graft] val fuzzyPairReg =
    graft.core.AtRestRegistry[String]("corpus.c18_pairs", arity = 3)

  private def fuzzyEvalPairsAtRest(spark: SparkSession, dir: String,
      evalMod: Int, minJ: Double): DataFrame = {
    val path = fuzzyPairReg.getOrBuild(dir, evalMod, minJ) {
      // path from the SAME (dir, evalMod, minJ) tuple as the key (ADVICE
      // r12: the old round(minJ*100) path token aliased 0.801 and 0.804)
      val p = fuzzyPairReg.pathFor(Similarity.OracleDumpRoot, "c18_pairs", dir, evalMod, minJ)
      val docs = Tables.t(spark, dir, "documents")
      val isEval = pmod(col("doc_id"), lit(evalMod)) === 0
      val evalSig = Tables.materialize(
        Dedup.signaturesWithSets(Dedup.shingles(docs.filter(isEval))))
      val trainSig = Tables.materialize(
        Dedup.signaturesWithSets(Dedup.shingles(docs.filter(!isEval))))
      val cand = Dedup.bands(trainSig).as("x")
        .join(broadcast(Dedup.bands(evalSig)).as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("train_id"), col("y.doc_id").as("eval_id"))
        .distinct()
      Dedup.verifyJaccard2(cand, trainSig, evalSig, minJ, "train_id", "eval_id")
        .write.mode("overwrite").parquet(p)
      p
    }
    Tables.parquet(spark, path)
  }

  /** FUZZY benchmark decontamination (c18) — the near-duplicate
    * complement to [[decontaminate]]: c3 flags exact shared n-grams, but a
    * lightly edited eval passage (re-punctuated, words swapped) slips
    * through exact matching while still leaking the answer — the screen
    * GPT-3/PaLM-style audits run with fuzzy matching. Each training
    * document is tested for whole-document near-identity (MinHash-LSH at
    * `minJ`, the d3 signature scheme with its ≈1-recall argument at
    * j ≥ 0.8) against the eval set.
    *
    * Scale shape: the eval side is benchmark-sized, so its band index and
    * shingle sets BROADCAST (the c3 principle lifted to LSH); the corpus
    * is signed row-locally and probes the eval bands map-side — the only
    * corpus-grain exchange is the final per-document fold. Exact Jaccard
    * verification touches band collisions only (the d-series rule). */
  /** Per-JVM registry of c18's VERIFIED train × eval near-identity pair
    * relation (train_id, eval_id, jac) per (dir, evalMod, minJ) — the
    * [[graft.ops.Dedup.nearDupPairsAtRest]] pattern applied to the
    * decontamination screen's ground truth: the first toucher executes the
    * real cross-split LSH + exact-Jaccard verification (so the gate still
    * exercises the algorithm every round) and dumps; every later consumer
    * in the JVM — c18's own re-runs and the c33 ledger — reads parquet. At
    * 100 TB this relation is maintained BY the screen as eval suites and
    * shards land; the release ledger never re-shingles the corpus. */
  def fuzzyDecontam(spark: SparkSession, dir: String,
      evalMod: Int = 97, minJ: Double = 0.8): DataFrame = {
    val docs = Tables.t(spark, dir, "documents")
    val isEval = pmod(col("doc_id"), lit(evalMod)) === 0
    val pairs = fuzzyEvalPairsAtRest(spark, dir, evalMod, minJ)
    val agg = pairs.groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("jac")).as("max_jac"))
    docs.filter(!isEval).select(col("doc_id"))
      .join(agg.withColumnRenamed("train_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        coalesce(col("max_jac"), lit(0.0)).as("max_jac"))
      .withColumn("fuzzy_contaminated", col("n_eval_matches") > 0)
  }

  /** DuckDB oracle twin of [[fuzzyDecontam]] — the EXACT train × eval
    * Jaccard pair set at the threshold (the d3/d8 oracle argument: LSH
    * recall ≈ 1 at j ≥ 0.8, and verification is exact), folded per
    * training document. */
  def fuzzyDecontamOracleSql(evalMod: Int = 97, minJ: Double = 0.8): String =
    s"""WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
       | t3 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 3),
       | sh0 AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]) AS s FROM t3),
       | sh AS (SELECT DISTINCT doc_id, s FROM sh0),
       | sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       | ip AS (SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS inter
       |        FROM sh a JOIN sh b ON a.s = b.s
       |        WHERE a.doc_id % $evalMod <> 0 AND b.doc_id % $evalMod = 0 GROUP BY 1, 2),
       | jp AS (SELECT train_id, eval_id,
       |         round(CAST(inter AS DOUBLE) / (za.sz + zb.sz - inter), 4) AS jac
       |        FROM ip JOIN sizes za ON train_id = za.doc_id JOIN sizes zb ON eval_id = zb.doc_id),
       | f AS (SELECT train_id, count(*) AS n, max(jac) AS mj
       |       FROM jp WHERE jac >= $minJ GROUP BY 1)
       |SELECT d.doc_id, CAST(COALESCE(f.n, 0) AS BIGINT) AS n_eval_matches,
       | COALESCE(f.mj, 0.0) AS max_jac, COALESCE(f.n, 0) > 0 AS fuzzy_contaminated
       |FROM documents d LEFT JOIN f ON d.doc_id = f.train_id
       |WHERE d.doc_id % $evalMod <> 0""".stripMargin

  /** Multi-signal decontamination LEDGER (c33) — the release-gate artifact
    * the per-signal screens feed: every training document with its
    * VERBATIM overlap count (c3's exact 8-gram screen), its FUZZY
    * whole-document near-identity evidence (c18's MinHash screen: match
    * count + worst Jaccard), and the admission verdict a release pipeline
    * acts on — `drop` on fuzzy near-identity (the document IS an eval
    * item), `review` on verbatim overlap only (quotes a passage — a human
    * call), `keep` otherwise. This is the synthesis job that runs once per
    * corpus snapshot right before export (c13/c20's stage): both signal
    * relations are one-pass pipelines at train-doc grain and the ledger is
    * their doc_id equi-join — no new scan shape, no all-pairs, and at
    * 100 TB each signal would be read from its screen's standing output
    * exactly as the d-family reads [[graft.ops.Dedup.nearDupPairsAtRest]]. */
  def decontamLedger(spark: SparkSession, dir: String, evalMod: Int = 97,
      n: Int = 8, minJ: Double = 0.8): DataFrame = {
    val verbatim = decontaminateAtRest(spark, dir, evalMod, n)
      .select(col("doc_id"), col("n_hits").as("n_verbatim"))
    val fuzzy = fuzzyDecontam(spark, dir, evalMod, minJ)
      .select(col("doc_id"), col("n_eval_matches").as("n_fuzzy"),
        col("max_jac"), col("fuzzy_contaminated"))
    verbatim.join(fuzzy, Seq("doc_id"))
      .select(col("doc_id"), col("n_verbatim"), col("n_fuzzy"), col("max_jac"),
        when(col("fuzzy_contaminated"), lit("drop"))
          .when(col("n_verbatim") > 0, lit("review"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** DuckDB oracle twin of [[decontamLedger]] — the two signal replays
    * (each a full oracle query, nested as subqueries) joined and mapped to
    * the same verdict rule. */
  def decontamLedgerOracleSql(evalMod: Int = 97, n: Int = 8, minJ: Double = 0.8): String =
    s"""WITH v AS (SELECT * FROM (${decontaminateOracleSql(evalMod, n)})),
       | fz AS (SELECT * FROM (${fuzzyDecontamOracleSql(evalMod, minJ)}))
       |SELECT v.doc_id, v.n_hits AS n_verbatim,
       | fz.n_eval_matches AS n_fuzzy, fz.max_jac,
       | CASE WHEN fz.fuzzy_contaminated THEN 'drop'
       |      WHEN v.n_hits > 0 THEN 'review' ELSE 'keep' END AS verdict
       |FROM v JOIN fz USING (doc_id)""".stripMargin

  /** RELEASE-EXPORT capstone (c34) — the end-to-end artifact every screen
    * in this family exists to feed, run in the order a real corpus
    * release runs it: quality gate (Gopher verdicts — t16's rules),
    * dedup gate (the d-family at-rest pair relation, keep-smallest),
    * decontamination gate (the c33 ledger verdict), then sequence
    * packing (the c-family packer) over the survivors — emitting the
    * packed-sequence relation PLUS the per-stage attrition a release
    * review reads (docs in → dropped by quality / dup / decontam → docs
    * packed), attached as constant columns (the t12 one-row-broadcast
    * class).
    *
    * Registry discipline (the r12 directive): the expensive signals are
    * all read AT REST — the dup verdict from [[graft.ops.Dedup
    * .nearDupPairsAtRest]], the decontam verdict from the c33 ledger
    * (itself the c3 + c18 registries) — the export NEVER re-shingles the
    * corpus (PlanShapeSpec pins the warmed scan census). The quality gate
    * is deliberately NOT an artifact: it is one row-local map pass, the
    * one stage re-running is cheaper than maintaining at 100 TB.
    *
    * Stage attribution is sequential (a doc failing quality is counted at
    * quality even if it is also a dup), so the attrition columns sum to
    * docs_in exactly. The dup rule drops any training doc with a SMALLER
    * near-dup training neighbor — the local form of d5's min-label
    * canonical-keeper (every near-dup cluster keeps at least its minimum;
    * the rule is O(pairs), needs no connected components, and is
    * replayable in one SQL predicate).
    *
    * Scale shape: one corpus scan for the staged relation + one for the
    * quality verdicts (joined at doc grain), the pair/ledger sides are
    * artifact-sized, the dup drop list broadcasts, packing is the t8
    * per-source window, and the attrition is a map-side-combined one-row
    * aggregate — cost is O(corpus map) + O(survivors window), linear in
    * survivors across SFs (ScalingAudit row). */
  def releaseExport(spark: SparkSession, dir: String, evalMod: Int = 97,
      n: Int = 8, minJ: Double = 0.8, budgetTokens: Int = 512): DataFrame = {
    val staged = releaseStaged(spark, dir, evalMod, n, minJ, lit(true))
    packFromCounts(staged.filter(col("stage") === "pack")
        .select(col("source"), col("doc_id"), col("n_tok")), budgetTokens)
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
      .crossJoin(broadcast(stageAttrition(staged)))
  }

  /** The release pipeline's STAGED relation — every training doc under
    * `extraFilter` with its (doc_id, source, n_tok) projection and the
    * stage that claims it (`quality` / `dup` / `decontam` / `pack`).
    * Every per-doc verdict is independent of the other docs in the
    * filter's slice (quality is row-local, the dup rule reads the
    * corpus-wide pair relation, the ledger joins at doc grain), so
    * staging COMMUTES with the filter: standing ∪ delta staged ≡ the
    * whole corpus staged — the property c36's incrementality rests on.
    * Materialized: the attrition fold and the packer both consume it
    * (AQE stage-matching does not fire across the aliasings, r4). */
  private def releaseStaged(spark: SparkSession, dir: String, evalMod: Int,
      n: Int, minJ: Double, extraFilter: Column): DataFrame = {
    val train = Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
      .filter(extraFilter)
    // stage 1: quality — row-local Gopher verdicts over the t16 fixture
    val quality = TextOps.gopherRules(TextOps.withSyntheticLines(train))
      .select(col("doc_id"), col("keep").as("q_keep"))
    // stage 2: dup — at-rest pair relation; drop the larger end of every
    // within-train pair (keep-smallest)
    val dupDrop = Dedup.nearDupPairsAtRest(spark, dir, minJ)
      .filter(pmod(col("a"), lit(evalMod)) =!= 0 && pmod(col("b"), lit(evalMod)) =!= 0)
      .select(col("b").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    // stage 3: decontam — the c33 ledger verdict (c3 + c18 at rest);
    // 'review' does not ship either: an automated export can only admit
    // 'keep' (the review queue is a human stage, not a release stage)
    val ledger = decontamLedger(spark, dir, evalMod, n, minJ)
      .select(col("doc_id"), col("verdict"))
    Tables.materialize(
      train.select(col("doc_id"), col("source"),
          size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
        .join(quality, Seq("doc_id"))
        .join(broadcast(dupDrop), Seq("doc_id"), "left")
        .join(ledger, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tok"),
          when(!col("q_keep"), lit("quality"))
            .when(col("is_dup"), lit("dup"))
            .when(col("verdict") =!= "keep", lit("decontam"))
            .otherwise(lit("pack")).as("stage")))
  }

  /** The one-row per-stage attrition fold over a staged relation. */
  private def stageAttrition(staged: DataFrame): DataFrame =
    staged.agg(
      count(lit(1)).as("docs_in"),
      sum(when(col("stage") === "quality", 1L).otherwise(0L)).as("drop_quality"),
      sum(when(col("stage") === "dup", 1L).otherwise(0L)).as("drop_dup"),
      sum(when(col("stage") === "decontam", 1L).otherwise(0L)).as("drop_decontam"),
      sum(when(col("stage") === "pack", 1L).otherwise(0L)).as("docs_packed"))

  /** Per-JVM registry of c36's STANDING export artifact per full
    * parameter tuple: (standing packs parquet, standing attrition
    * parquet). Built once from the standing corpus — the release run that
    * shipped last snapshot; every delta run after reads it. */
  private[graft] val exportStateReg = graft.core.AtRestRegistry[(String, String)](
    "corpus.c36_export_state", arity = 6)

  /** INCREMENTAL release-export maintenance (c36) — the d7/d8/q33
    * standing-pipeline posture applied to the c34 capstone, i.e. the run
    * a 100 TB release pipeline does every day AFTER the first ship: a
    * newly landed shard (doc_id % deltaMod == 0, the d7 DeltaMod
    * convention) is screened ALONE — quality row-locally, dup against
    * the corpus-wide at-rest pair relation, decontam via the c33 ledger
    * — and its survivors are packed APPEND-ONLY: shipped packs are
    * immutable, so each source's delta stream opens a fresh pack at
    * `base = max(standing pack_id) + 1` (a source first seen in the
    * delta starts at 0) rather than re-flowing history through the
    * packer. Incremental staging is EXACT (staging commutes with the
    * shard split — [[releaseStaged]]); only pack boundaries differ from
    * a global repack, by design (the fragmentation is the price of
    * immutability, and CorpusSpec measures it: same survivors, same
    * token mass, pack count ≥ the global repack's).
    *
    * Output: the combined pack relation (standing + delta, `from_delta`
    * flagged) with the combined attrition attached — cost is O(delta
    * screen + delta packing + |standing packs|), independent of history
    * document volume. */
  def incrementalReleaseExport(spark: SparkSession, dir: String,
      evalMod: Int = 97, n: Int = 8, minJ: Double = 0.8,
      budgetTokens: Int = 512, deltaMod: Int = Dedup.DeltaMod): DataFrame = {
    val (packsPath, attPath) =
      exportStateReg.getOrBuild(dir, evalMod, n, minJ, budgetTokens, deltaMod) {
        val pp = exportStateReg.pathFor(Similarity.OracleDumpRoot, "c36_packs",
          dir, evalMod, n, minJ, budgetTokens, deltaMod)
        val ap = exportStateReg.pathFor(Similarity.OracleDumpRoot, "c36_att",
          dir, evalMod, n, minJ, budgetTokens, deltaMod)
        val standing = releaseStaged(spark, dir, evalMod, n, minJ,
          pmod(col("doc_id"), lit(deltaMod)) =!= 0)
        packFromCounts(standing.filter(col("stage") === "pack")
            .select(col("source"), col("doc_id"), col("n_tok")), budgetTokens)
          .groupBy(col("source"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
          .write.mode("overwrite").parquet(pp)
        stageAttrition(standing).write.mode("overwrite").parquet(ap)
        (pp, ap)
      }
    val standingPacks = Tables.parquet(spark, packsPath)
    // the delta screen touches ONLY the delta shard
    val delta = releaseStaged(spark, dir, evalMod, n, minJ,
      pmod(col("doc_id"), lit(deltaMod)) === 0)
    val base = standingPacks.groupBy(col("source"))
      .agg((max(col("pack_id")) + 1).as("base_packs"))
    val deltaPacks = packFromCounts(delta.filter(col("stage") === "pack")
        .select(col("source"), col("doc_id"), col("n_tok")), budgetTokens)
      .join(broadcast(base), Seq("source"), "left_outer")
      .select(col("source"),
        (coalesce(col("base_packs"), lit(0L)) + col("pack_id")).as("pack_id"),
        col("n_tok"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
    // combined attrition: counters are group sums, so standing ⊕ delta is
    // exact (the q33 decomposability argument at counter grain)
    val att = Tables.parquet(spark, attPath).unionByName(stageAttrition(delta))
      .agg(sum(col("docs_in")).as("docs_in"),
        sum(col("drop_quality")).as("drop_quality"),
        sum(col("drop_dup")).as("drop_dup"),
        sum(col("drop_decontam")).as("drop_decontam"),
        sum(col("docs_packed")).as("docs_packed"))
    standingPacks.withColumn("from_delta", lit(false))
      .unionByName(deltaPacks.withColumn("from_delta", lit(true)))
      .crossJoin(broadcast(att))
  }

  /** Per-JVM registry of c37's release fixture per full parameter tuple:
    * (shipped pack-assignment parquet — WITH the injected drift —,
    * manifest parquet). */
  private[graft] val releaseFixityReg = graft.core.AtRestRegistry[(String, String)](
    "corpus.c37_release_fixity", arity = 5)

  /** RELEASE-ARTIFACT fixity audit (c37) — the a46 archival-integrity
    * posture applied to what the release pipeline actually ships: at
    * export time the pipeline records a MANIFEST (per pack: doc count,
    * token mass, and a content digest — md5 over the pack's doc_id list
    * in doc order, the c17 order-digest rule both engines replay); the
    * audit re-reads the SHIPPED artifact, recomputes every pack's digest
    * from real bytes, and reports per pack whether it still matches.
    * Drift is PROVEN by injection (the a46 discipline): after the
    * manifest is written, every pack with `pack_id % 3 == 1` ships with
    * its smallest doc_id perturbed (+100000000) — a pure function of the
    * pack grid the oracle replays closed-form, so the audit must flag
    * exactly the corrupted packs and clear the rest from REAL digest
    * comparison.
    *
    * Scale shape: the audit is one shipped-artifact scan folded at pack
    * grain plus an equi-join against the (pack-grain, tiny) manifest —
    * at 100 TB both sides are pack-grain, the same I/O a re-serve would
    * pay; production runs it source-by-source on a cadence. */
  def releaseFixity(spark: SparkSession, dir: String, evalMod: Int = 97,
      n: Int = 8, minJ: Double = 0.8, budgetTokens: Int = 512): DataFrame = {
    val digest = md5(concat_ws(",",
      transform(sort_array(collect_list(col("doc_id"))), _.cast("string"))))
    val (shippedPath, manifestPath) =
      releaseFixityReg.getOrBuild(dir, evalMod, n, minJ, budgetTokens) {
        val sp = releaseFixityReg.pathFor(Similarity.OracleDumpRoot, "c37_shipped",
          dir, evalMod, n, minJ, budgetTokens)
        val mp = releaseFixityReg.pathFor(Similarity.OracleDumpRoot, "c37_manifest",
          dir, evalMod, n, minJ, budgetTokens)
        val assigns = Tables.materialize(
          packFromCounts(releaseStaged(spark, dir, evalMod, n, minJ, lit(true))
              .filter(col("stage") === "pack")
              .select(col("source"), col("doc_id"), col("n_tok")), budgetTokens)
            .select(col("source"), col("pack_id"), col("doc_id"), col("n_tok")))
        assigns.groupBy(col("source"), col("pack_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
            digest.as("digest"))
          .coalesce(1).write.mode("overwrite").parquet(mp)
        // the injected bit-rot, applied AFTER the manifest (a46): the
        // smallest doc of every pack_id % 3 == 1 pack ships perturbed
        val w = Window.partitionBy(col("source"), col("pack_id")).orderBy(col("doc_id"))
        assigns
          .withColumn("rn", row_number().over(w))
          .withColumn("doc_id",
            when(col("rn") === 1 && col("pack_id") % 3 === 1,
              col("doc_id") + 100000000L).otherwise(col("doc_id")))
          .drop("rn")
          .write.mode("overwrite").parquet(sp)
        (sp, mp)
      }
    val recomputed = Tables.parquet(spark, shippedPath)
      .groupBy(col("source"), col("pack_id"))
      .agg(digest.as("now"))
    Tables.parquet(spark, manifestPath)
      .join(recomputed, Seq("source", "pack_id"))
      .select(col("source"), col("pack_id"), col("n_docs"), col("tok_sum"),
        (col("now") =!= col("digest")).as("drifted"))
  }

  /** MULTIMODAL decontamination ledger (c35) — c33 extended with the
    * visual signal (the r12 directive: media and text gate TOGETHER — a
    * doc whose image payload is a near-copy of an eval image must not
    * ship just because its text is clean): the same c3 verbatim + c18
    * fuzzy text signals, plus m30's per-image eval-leakage fold LEFT
    * JOINED at doc grain (image docs only — text-only docs carry
    * n_visual = 0), and the verdict gains its fourth input: visual
    * near-identity is a `drop` exactly like textual near-identity (the
    * image IS an eval item; the m28 plant straddling the split proves
    * the signal live at every SF — train image 42's raster is eval 45's
    * donor, train 18 is eval 15's +1-pixel copy).
    *
    * All three signals read AT REST ([[verbatimReg]], [[fuzzyPairReg]]
    * via [[fuzzyDecontam]], [[graft.ops.Multimodal.visualDecontamReg]])
    * — the ledger re-shingles nothing and re-decodes nothing; the visual
    * side is flagged-images-only (tiny) and broadcasts. */
  def decontamLedgerMm(spark: SparkSession, dir: String, evalMod: Int = 97,
      n: Int = 8, minJ: Double = 0.8, visEvalMod: Int = 15, tau: Int = 3): DataFrame = {
    val verbatim = decontaminateAtRest(spark, dir, evalMod, n)
      .select(col("doc_id"), col("n_hits").as("n_verbatim"))
    val fuzzy = fuzzyDecontam(spark, dir, evalMod, minJ)
      .select(col("doc_id"), col("n_eval_matches").as("n_fuzzy"),
        col("max_jac"), col("fuzzy_contaminated"))
    val visual = Multimodal.visualDecontamAtRest(spark, dir, visEvalMod, tau)
      .select(col("train_id").as("doc_id"), col("n_eval_hits"))
    verbatim.join(fuzzy, Seq("doc_id"))
      .join(broadcast(visual), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_verbatim"), col("n_fuzzy"), col("max_jac"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_visual"),
        when(col("fuzzy_contaminated") || col("n_eval_hits") > 0, lit("drop"))
          .when(col("n_verbatim") > 0, lit("review"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** DuckDB oracle twin of [[decontamLedgerMm]] — the three signal
    * replays (each a full oracle query, nested) joined and mapped to the
    * same four-input verdict rule. */
  def decontamLedgerMmOracleSql(evalMod: Int = 97, n: Int = 8, minJ: Double = 0.8,
      visEvalMod: Int = 15, tau: Int = 3): String =
    s"""WITH v AS (SELECT * FROM (${decontaminateOracleSql(evalMod, n)})),
       | fz AS (SELECT * FROM (${fuzzyDecontamOracleSql(evalMod, minJ)})),
       | vis AS (SELECT train_id AS doc_id, n_eval_hits
       |         FROM (${Multimodal.visualDecontamOracleSql(visEvalMod, tau)}) z)
       |SELECT v.doc_id, v.n_hits AS n_verbatim,
       | fz.n_eval_matches AS n_fuzzy, fz.max_jac,
       | CAST(COALESCE(vis.n_eval_hits, 0) AS BIGINT) AS n_visual,
       | CASE WHEN fz.fuzzy_contaminated OR COALESCE(vis.n_eval_hits, 0) > 0 THEN 'drop'
       |      WHEN v.n_hits > 0 THEN 'review' ELSE 'keep' END AS verdict
       |FROM v JOIN fz USING (doc_id) LEFT JOIN vis USING (doc_id)""".stripMargin

  /** Dataset nutrition label (c19) — the one-row "datasheet" summary a
    * corpus release ships with (Gebru et al.'s datasheets, Hugging Face
    * dataset cards): document and token mass, language and source
    * cardinalities, exact-duplicate count and rate, and mean document
    * length — the numbers a consumer reads before anything else. One scan
    * feeds the doc-grain measures; the duplicate count reuses the d1 md5
    * canonical rule (non-first members of each content-hash group); all
    * reductions are map-side combined and the output is a single row,
    * so at 100 TB this is exactly one pass plus a hash-grain exchange. */
  def nutritionLabel(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"),
      md5(col("text")).as("h"))
    val dupes = base.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") - 1).as("n_dupes"))
    base.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      count_distinct(col("lang")).as("n_langs"),
      count_distinct(col("source")).as("n_sources"),
      round(sum(col("n_tok")).cast(DoubleType) / count(lit(1)), 4).as("mean_len"))
      .crossJoin(broadcast(dupes))
      .withColumn("dup_rate", round(col("n_dupes").cast(DoubleType) / col("n_docs"), 4))
  }

  /** DuckDB oracle twin of [[nutritionLabel]] — the same measures stated
    * directly. */
  def nutritionLabelOracleSql: String =
    """WITH b AS (SELECT doc_id, lang, source,
      |            CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok,
      |            md5(text) AS h
      |           FROM documents),
      | d AS (SELECT CAST(sum(c - 1) AS BIGINT) AS n_dupes FROM (
      |        SELECT h, count(*) AS c FROM b GROUP BY h))
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      | round(CAST(sum(n_tok) AS DOUBLE) / count(*), 4) AS mean_len,
      | d.n_dupes,
      | round(CAST(d.n_dupes AS DOUBLE) / count(*), 4) AS dup_rate
      |FROM b, d GROUP BY d.n_dupes""".stripMargin

  /** Corpus-health report: per-source document counts, token totals,
    * quality mass, and duplicate counts, with a ROLLUP grand-total row —
    * the dashboard a curation run ends with. Composes the stage operators
    * ([[TextOps.qualityScores]], exact-dup canonicalization) and
    * aggregates once on the low-cardinality source key; the quality sum
    * runs in DECIMAL so the cross-engine compare is exact. */
  def corpusReport(docs: DataFrame): DataFrame = {
    val q = TextOps.qualityScores(docs).select(col("doc_id"), col("quality"))
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"),
      (col("doc_id") === min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
        .as("is_canonical"))
    base.join(q, Seq("doc_id"))
      .rollup(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tok_sum"),
        round(sum(col("quality").cast(DecimalType(18, 4))).cast(DoubleType), 3).as("qual_sum"),
        (count(lit(1)) - sum(when(col("is_canonical"), 1L).otherwise(0L))).as("n_dupes"))
  }

  /** DuckDB oracle twin of [[corpusReport]] (quality from
    * [[TextOps.qualityOracleSql]] verbatim; BIGINT casts for the HUGEINT
    * sums; same ROLLUP). */
  def corpusReportOracleSql: String =
    s"""WITH base AS (SELECT d.doc_id, d.source,
       |  CAST(len(string_split_regex(d.text, '\\s+')) AS BIGINT) AS n_tok,
       |  (d.doc_id = min(d.doc_id) OVER (PARTITION BY md5(d.text))) AS is_canonical
       | FROM documents d),
       | j AS (SELECT base.*, q.quality FROM base
       |       JOIN (SELECT doc_id, quality FROM (${TextOps.qualityOracleSql.replace("\n", "\n      ")}) qq) q USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_tok) AS BIGINT) AS n_tok_sum,
       | round(CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE), 3) AS qual_sum,
       | CAST(count(*) - sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_dupes
       |FROM j GROUP BY ROLLUP(source)""".stripMargin

  /** Sliding-window document chunking — the context-window prep step a
    * training/RAG pipeline runs before tokenization proper: pre-tokenize
    * (the [[TextOps.BpeTokenRe]] partition of the text, so concatenating a
    * token window reconstructs the exact source span), then emit windows of
    * `window` tokens every `window - overlap` tokens; the last window is
    * clamped short rather than padded. Emits the span checksum so the gate
    * proves byte-exact span reconstruction, not just counts.
    *
    * Scale shape: pure native higher-order functions (regexp_extract_all /
    * sequence / slice / concat_ws) — whole-stage codegen, one map pass,
    * ZERO shuffle; chunk fan-out is a generator explode, never a driver
    * loop. */
  def chunkWindows(docs: DataFrame, window: Int = 64, overlap: Int = 16): DataFrame = {
    require(window > overlap && overlap >= 0, s"need window > overlap >= 0, got $window/$overlap")
    val step = window - overlap
    docs
      .select(col("doc_id"), expr(s"regexp_extract_all(text, '${TextOps.BpeTokenRe}', 0)").as("toks"))
      // emptiness is handled INSIDE the generator (empty array -> zero
      // rows) rather than a filter: a filter on size(toks) gets its alias
      // re-substituted below the projection by Catalyst, running the
      // tokenizer regex TWICE per document (measured ~2x the pass cost)
      .select(col("doc_id"), col("toks"),
        explode(expr(
          s"""if(size(toks) > 0,
             |   sequence(0, greatest(0, cast(ceil((size(toks) - $window) / cast($step as double)) as int))),
             |   array())""".stripMargin))
          .as("chunk_no"))
      .select(col("doc_id"), col("chunk_no").cast(LongType).as("chunk_no"),
        expr(s"slice(toks, chunk_no * $step + 1, $window)").as("ctoks"))
      .select(col("doc_id"), col("chunk_no"),
        size(col("ctoks")).cast(LongType).as("n_tok"),
        length(concat_ws("", col("ctoks"))).cast(LongType).as("span_len"),
        md5(encode(concat_ws("", col("ctoks")), "UTF-8")).as("checksum"))
  }

  /** DuckDB twin of [[chunkWindows]] — same regex partition, same window
    * arithmetic (ceil over double), same inclusive-clamped list slice,
    * span md5 over the re-concatenated tokens (ASCII documents: char
    * positions are byte positions). */
  def chunkWindowsOracleSql(window: Int = 64, overlap: Int = 16): String = {
    val step = window - overlap
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(text, '${TextOps.BpeTokenRe}') AS toks
       |           FROM documents WHERE length(text) > 0),
       | c AS (SELECT doc_id, toks,
       |        unnest(range(0, 1 + greatest(0, CAST(ceil((len(toks) - $window) / CAST($step AS DOUBLE)) AS BIGINT)))) AS chunk_no
       |       FROM d WHERE len(toks) > 0),
       | s AS (SELECT doc_id, chunk_no,
       |        toks[chunk_no * $step + 1 : chunk_no * $step + $window] AS ctoks
       |       FROM c)
       |SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
       | CAST(len(ctoks) AS BIGINT) AS n_tok,
       | CAST(length(array_to_string(ctoks, '')) AS BIGINT) AS span_len,
       | md5(array_to_string(ctoks, '')) AS checksum
       |FROM s""".stripMargin
  }

  /** DuckDB oracle twin of [[packAssignments]]. */
  /** Deterministic URL injection for the c8 gate: the synthetic corpus
    * carries no URLs (t11's device, applied to provenance) — every doc
    * gains one reproducible URL derived from `doc_id`, with enough host
    * diversity (7 base names × 4 numeric variants × 3 TLDs, some www-
    * prefixed, one path level) to exercise parsing, eTLD+1 folding and
    * blocklisting. Same expression in the DuckDB oracle. */
  def withSyntheticUrl(docs: DataFrame): DataFrame = {
    val bases = array(Seq("news", "blog", "spam", "shop", "wiki", "forum", "docs").map(lit): _*)
    val tlds = array(Seq("com", "org", "net").map(lit): _*)
    docs.withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 5 === 0, lit("www.")).otherwise(lit("")),
      element_at(bases, (col("doc_id") % 7 + 1).cast("int")),
      col("doc_id") % 4, lit("."),
      element_at(tlds, (col("doc_id") % 3 + 1).cast("int")),
      lit("/p/"), col("doc_id")))
  }

  /** Per-domain curation report (c8) — the URL-provenance pipeline every
    * web-scale corpus runs before mixing (C4/RefinedWeb shape): parse each
    * document's URL, fold hosts to their registered domain (eTLD+1 — last
    * two dot-labels under this fixture's flat TLD set), apply a domain
    * blocklist, and aggregate per registered domain.
    *
    * Scale shape: parse (`parse_url`, the built-in — not a UDF) and the
    * eTLD+1 fold are row-local; the only exchange is the per-domain
    * aggregation, map-side combined, carrying (domain) keys — the text
    * column never moves. A real blocklist arrives as a broadcast table;
    * here the deterministic prefix rule keeps the oracle closed-form.
    * Output: per domain, docs, distinct hosts, blocked and kept counts. */
  def domainCuration(docs: DataFrame): DataFrame = {
    val host = parse_url(col("url"), lit("HOST"))
    val labels = split(host, "\\.")
    val regdom = concat(element_at(labels, -2), lit("."), element_at(labels, -1))
    withSyntheticUrl(docs)
      .select(col("doc_id"), host.as("host"), regdom.as("domain"))
      .withColumn("blocked", col("domain").startsWith("spam"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("host")).as("n_hosts"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        sum(when(col("blocked"), 0L).otherwise(1L)).as("n_kept"))
      .orderBy(col("domain"))
  }

  /** DuckDB oracle twin of [[domainCuration]] — the same URL construction,
    * a closed-form host parse (substring between the scheme and the first
    * path slash), the same eTLD+1 fold and prefix blocklist. */
  def domainCurationOracleSql: String =
    s"""WITH u AS (SELECT doc_id,
       |  'https://' || CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
       |  ['news','blog','spam','shop','wiki','forum','docs'][CAST(doc_id % 7 + 1 AS INT)] ||
       |  CAST(doc_id % 4 AS VARCHAR) || '.' ||
       |  ['com','org','net'][CAST(doc_id % 3 + 1 AS INT)] ||
       |  '/p/' || CAST(doc_id AS VARCHAR) AS url
       | FROM documents),
       | h AS (SELECT doc_id, string_split(url, '/')[3] AS host FROM u),
       | d AS (SELECT doc_id, host,
       |        string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] AS domain
       |       FROM h),
       | f AS (SELECT doc_id, host, domain, starts_with(domain, 'spam') AS blocked FROM d)
       |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       |       CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       |       CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
       |FROM f GROUP BY domain""".stripMargin

  /** Per-source dedup IMPACT report (c9) — the composition a pipeline
    * owner reads before committing a cleanup: for each source, document
    * and token mass, exact-duplicate docs (non-keeper members of an md5
    * group), docs implicated in a near-dup pair (the d3 relation), and
    * lines the C4 rule (d12) would cut. All inputs are doc-keyed
    * relations produced by the existing operators; the report is four
    * equi-joins + one per-source fold — composition, not recomputation,
    * is the point (each sub-relation scales exactly as its own operator
    * does). */
  def dedupReport(docs: DataFrame, pairs: Option[DataFrame] = None): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"),
      md5(col("text")).as("h"))
    val keep = base.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val nearDocs = {
      val p = pairs.getOrElse(Dedup.minhashPairs(docs, 0.8))
      p.select(col("a").as("doc_id")).union(p.select(col("b").as("doc_id"))).distinct()
        .withColumn("near", lit(1))
    }
    val lines = Dedup.lineDedup(docs)
      .select(col("doc_id"), (col("n_lines") - col("n_kept")).as("cut"))
    base.join(keep, Seq("h"))
      .join(nearDocs, Seq("doc_id"), "left_outer")
      .join(lines, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("near").isNotNull, 1L).otherwise(0L)).as("n_near_dup"),
        sum(col("cut")).as("n_lines_cut"))
      .orderBy(col("source"))
  }

  /** Crawl-snapshot diff (c10) — the CDC pass run between two corpus
    * snapshots before re-training: classify every document as
    * added / removed / changed / unchanged and fold per-(source, status)
    * counts, so the pipeline knows how much re-tokenization, re-dedup and
    * re-embedding the new snapshot actually requires. Snapshots are
    * derived deterministically from the one fixture table (the injection
    * device): snapshot A drops every 7th doc (they "arrive" in B → added),
    * snapshot B drops every 13th (→ removed) and revises every 11th
    * (md5 differs → changed).
    *
    * Scale shape: ONE doc-keyed full-outer join of the two md5 projections
    * (co-partitioned equi-join — the diff never compares text, only
    * 16-byte digests), then a map-side-combined (source, status) fold.
    * This is how a 100 TB snapshot pair diffs without moving content. */
  def snapshotDiff(docs: DataFrame): DataFrame = {
    val a = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source"), md5(col("text")).as("ha"))
    val b = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .select(col("doc_id"), col("source").as("source_b"),
        md5(when(pmod(col("doc_id"), lit(11)) === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("hb"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("source"), col("source_b")).as("source"),
        when(col("ha").isNull, lit("added"))
          .when(col("hb").isNull, lit("removed"))
          .when(col("ha") =!= col("hb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("status"))
  }

  /** DuckDB oracle twin of [[snapshotDiff]]: the same derived snapshots,
    * digest join, and classification. */
  def snapshotDiffOracleSql: String =
    """WITH a AS (SELECT doc_id, source, md5(text) AS ha FROM documents WHERE doc_id % 7 <> 0),
      | b AS (SELECT doc_id, source AS source_b,
      |        md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END) AS hb
      |       FROM documents WHERE doc_id % 13 <> 0),
      | j AS (SELECT coalesce(a.source, b.source_b) AS source,
      |        CASE WHEN a.ha IS NULL THEN 'added'
      |             WHEN b.hb IS NULL THEN 'removed'
      |             WHEN a.ha <> b.hb THEN 'changed'
      |             ELSE 'unchanged' END AS status
      |       FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source, status, count(*) AS n FROM j GROUP BY 1, 2""".stripMargin

  def packAssignmentsOracleSql(budgetTokens: Int = 512): String =
    s"""SELECT source, doc_id, n_tok, CAST(off AS BIGINT) AS off,
       |       CAST(off // $budgetTokens AS BIGINT) AS pack_id
       |FROM (SELECT source, doc_id,
       |       CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok,
       |       COALESCE(sum(CAST(len(string_split_regex(text, '\\s+')) AS BIGINT))
       |         OVER (PARTITION BY source ORDER BY doc_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |      FROM documents) s""".stripMargin

  /** Sequence-length histogram (c12) — the batching/packing planner's
    * input: document token counts bucketed (fixed-width bins), with
    * per-bucket document and token mass plus the cumulative document
    * share. Fixing `max_seq_len` for a training run is exactly reading
    * this table ("what fraction of the corpus truncates at 2k? at 8k?"),
    * and the c5/c6/t8 packing operators consume its shape.
    *
    * Scale shape: one scan, one map-side-combined aggregation to BUCKET
    * grain (a few hundred rows at any corpus size), then the cumulative
    * window runs on that tiny relation — the window never sees
    * corpus-grain data. Integer bin arithmetic only (no log2 — float
    * binning at bin edges is engine-dependent). */
  def lengthHistogram(docs: DataFrame, binWidth: Int = 16): DataFrame = {
    val perDoc = docs.select(
      (size(split(col("text"), "\\s+"))).cast(LongType).as("n_tok"))
    val buckets = perDoc
      .groupBy((col("n_tok") / binWidth).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_toks"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = buckets.agg(sum(col("n_docs")).as("total_docs"))
    buckets
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .crossJoin(broadcast(total))
      .select(col("bucket"), (col("bucket") * binWidth).as("lo"),
        col("n_docs"), col("n_toks"), col("cum_docs"),
        round(col("cum_docs").cast(DoubleType) / col("total_docs"), 4).as("cum_share"))
  }

  /** DuckDB oracle twin of [[lengthHistogram]] — same integer bins, same
    * cumulative frame. */
  def lengthHistogramOracleSql(binWidth: Int = 16): String =
    s"""WITH pd AS (SELECT CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
       |            FROM documents),
       | b AS (SELECT n_tok // $binWidth AS bucket, count(*) AS n_docs, sum(n_tok) AS n_toks
       |       FROM pd GROUP BY 1),
       | c AS (SELECT bucket, n_docs, n_toks,
       |        sum(n_docs) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs,
       |        sum(n_docs) OVER () AS total_docs
       |       FROM b)
       |SELECT bucket, CAST(bucket * $binWidth AS BIGINT) AS lo,
       |       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_toks AS BIGINT) AS n_toks,
       |       CAST(cum_docs AS BIGINT) AS cum_docs,
       |       round(CAST(cum_docs AS DOUBLE) / total_docs, 4) AS cum_share
       |FROM c""".stripMargin

  /** Once-per-JVM registry of the c13 partitioned-export dirs. */
  private[graft] val exportReg =
    graft.core.AtRestRegistry[String]("corpus.c13_export", arity = 1)

  /** Hive-partitioned corpus export (c13) — the layout handoff every
    * downstream trainer expects: the corpus re-written
    * `partitionBy("source")` so each source lands in its own
    * `source=<v>/` directory, then read BACK through the partitioned
    * layout and reconciled per source. The gate proves the write→discover
    * →read cycle end-to-end: partition values survive as directory names
    * (the column is reconstructed from the path, not stored in the
    * files), and the per-source masses tie out against the flat original.
    * The point at 100 TB is partition PRUNING — a per-source consumer
    * reads ONE directory, not a full scan with a filter; PlanShapeSpec
    * pins that a `source =` predicate lands in the scan's
    * PartitionFilters. */
  def partitionedExport(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val out = exportReg.getOrBuild(dir) {
      val p = exportReg.pathFor(Similarity.OracleDumpRoot, "c13_export", dir)
      Tables.t(spark, dir, "documents")
        .write.mode("overwrite").partitionBy("source").parquet(p)
      p
    }
    Tables.parquet(spark, out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** DuckDB oracle twin of [[partitionedExport]] — the flat original's
    * per-source masses; the partitioned roundtrip must be lossless. */
  def partitionedExportOracleSql: String =
    """SELECT source, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source""".stripMargin

  /** Once-per-JVM registry of the c14 JSONL fixture dirs. */
  private[graft] val jsonlReg =
    graft.core.AtRestRegistry[String]("corpus.c14_jsonl", arity = 1)

  /** JSONL corpus ingestion with corrupt-record quarantine (c14) — the
    * standard LLM-corpus interchange format, exercised end-to-end: the
    * corpus is exported as JSON Lines (one `to_json(struct(...))` text row
    * per document — a row-local projection), two deliberately malformed
    * lines are planted in the landing directory, and ingestion reads the
    * directory back under PERMISSIVE mode with an explicit schema plus
    * `_corrupt_record`: well-formed rows parse columnar, broken lines land
    * whole in the quarantine column instead of failing the job — the
    * fault-tolerance posture a 100 TB crawl ingest needs (one mangled
    * shard must not kill the pipeline; it must be measurable and
    * re-routable). The gate reconciles the per-lang masses of the
    * SURVIVING rows against the flat original — only a parser that
    * quarantines exactly the planted garbage matches. Schema-explicit
    * reads also skip Spark's whole-corpus schema inference pass — at scale
    * never let the reader infer. */
  /** The PERMISSIVE schema-explicit read over the staged JSONL landing
    * dir — exposed for the quarantine-count spec. */
  private[ops] def jsonlIngestRaw(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val out = jsonlReg.getOrBuild(dir) {
      val p = jsonlReg.pathFor(Similarity.OracleDumpRoot, "c14_jsonl", dir)
      Tables.t(spark, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(p)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, "part-corrupt.txt"),
        "{\"doc_id\": 1, \"text\": unterminated\nnot json at all\n".getBytes("UTF-8"))
      p
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("_corrupt_record", StringType)))
    spark.read.schema(schema).json(out)
  }

  def jsonlIngest(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    jsonlIngestRaw(spark, dir)
      .filter(col("_corrupt_record").isNull)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /** DuckDB oracle twin of [[jsonlIngest]] — the flat original's per-lang
    * masses: the roundtrip must quarantine exactly the planted garbage. */
  def jsonlIngestOracleSql: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** Once-per-JVM registry of the c15 evolving-schema landing dirs. */
  private[graft] val evolveReg =
    graft.core.AtRestRegistry[String]("corpus.c15_evolve", arity = 1)

  /** Schema-evolution roundtrip (c15) — the corpus-versioning reality a
    * long-lived 100 TB landing zone faces: early shards were written
    * WITHOUT a column that later shards carry (here: a `quality` score
    * added mid-pipeline — even docs land in the v1 shard without it, odd
    * docs in the v2 shard with it). Reading the landing dir with
    * `mergeSchema` unions the footers: v1 rows surface the new column as
    * NULL instead of failing or silently dropping it, so downstream code
    * distinguishes "not yet scored" from "scored zero". The gate
    * reconciles, per lang, total mass plus the scored-row count and the
    * exact decimal sum of the scores that DO exist — only a reader that
    * merges footers and null-fills correctly matches. (Schema merging is
    * a read-time footer union — no data rewrite; at scale you enable it
    * per-read or register the superset schema in the catalog rather than
    * paying footer-merge on every scan.) */
  def schemaEvolution(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val out = evolveReg.getOrBuild(dir) {
      val p = evolveReg.pathFor(Similarity.OracleDumpRoot, "c15_evolve", dir)
      val docs = Tables.t(spark, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$p/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (col("n_chars") % 97).cast(LongType).as("quality"))
        .write.mode("overwrite").parquet(s"$p/v2")
      p
    }
    spark.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("quality")).as("n_scored"),
        coalesce(sum(col("quality")), lit(0L)).as("sum_quality"))
  }

  /** DuckDB oracle twin of [[schemaEvolution]] — the closed-form split
    * replayed on the flat original: every doc counts, odd docs are scored
    * with the same derived quality. */
  def schemaEvolutionOracleSql: String =
    """SELECT lang, count(*) AS n_docs,
      | CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
      | CAST(COALESCE(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars % 97 END), 0) AS BIGINT) AS sum_quality
      |FROM documents GROUP BY lang""".stripMargin

  /** Default target slice for [[importanceWeights]] — the "high-quality
    * exemplar" sources the raw corpus is reweighted toward. */
  val ImportanceTargets: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** DSIR-style importance weights (c11) — Data Selection via Importance
    * Resampling (Xie et al. 2023): score every raw document by how much
    * more likely its tokens are under a trusted TARGET slice than under the
    * raw corpus, `iw(doc) = mean_tok [ ln p_target(tok) − ln p_raw(tok) ]`
    * with add-1 smoothing over the shared raw vocabulary. Sampling the
    * corpus proportional to exp(iw·n_tok) yields a target-flavored mixture
    * — the standard pretraining-data curation move when a small clean
    * corpus (Wikipedia/books) should steer a 100 TB web crawl.
    *
    * Scale shape: the tokenized relation is materialized ONCE and feeds all
    * three consumers (raw fit, target fit, scoring join) — the
    * re-tokenize-per-consumer trap t12/t17 document. Both unigram fits are
    * map-side-combined aggregations; the corpus constants are one-row
    * broadcast joins; the per-token log-ratio table is vocabulary-sized
    * (broadcast it when it fits, as natural-language vocabularies do) and
    * the scoring join + per-document reduce is the only corpus-grain
    * exchange. The target slice is identified by `source`, so no second
    * scan of the raw text ever happens.
    *
    * Cross-engine: each token's log-ratio rounds to DECIMAL(18,8) before
    * the per-document sum (order-insensitive exact reduction in both
    * engines; 1-ulp `ln` risk absorbed by the rounding — the t12/t9
    * discipline). */
  def importanceWeights(docs: DataFrame,
      targets: Seq[String] = ImportanceTargets): DataFrame = {
    val toksOf = Tables.materialize(
      docs.select(col("doc_id"), col("source"), explode(split(col("text"), "\\s+")).as("tok")))
    val rawTf = toksOf.groupBy(col("tok")).agg(count(lit(1)).as("rc"))
    val tgtTf = toksOf.filter(col("source").isin(targets: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("tc"))
    val rawStats = rawTf.agg(sum(col("rc")).cast(DoubleType).as("rtot"),
      count(lit(1)).cast(DoubleType).as("vocab"))
    val tgtStats = tgtTf.agg(sum(col("tc")).cast(DoubleType).as("ttot"))
    val logRatio = rawTf.join(tgtTf, Seq("tok"), "left")
      .crossJoin(broadcast(rawStats)).crossJoin(broadcast(tgtStats))
      .select(col("tok"),
        (log((coalesce(col("tc"), lit(0L)).cast(DoubleType) + lit(1.0)) / (col("ttot") + col("vocab"))) -
         log((col("rc").cast(DoubleType) + lit(1.0)) / (col("rtot") + col("vocab"))))
          .cast(DecimalType(18, 8)).as("lr"))
    toksOf.join(logRatio, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        round(sum(col("lr")).cast(DoubleType) / count(lit(1)), 4).as("iw"))
  }

  /** DuckDB oracle twin of [[importanceWeights]] — same fits, same
    * smoothing, same per-token decimal rounding before the exact sum. */
  def importanceWeightsOracleSql(targets: Seq[String] = ImportanceTargets): String = {
    val inList = targets.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, source, unnest(string_split_regex(text, '\\s+')) AS tok
       |           FROM documents),
       | rtf AS (SELECT tok, count(*) AS rc FROM t GROUP BY tok),
       | ttf AS (SELECT tok, count(*) AS tc FROM t WHERE source IN ($inList) GROUP BY tok),
       | rst AS (SELECT CAST(sum(rc) AS DOUBLE) AS rtot, CAST(count(*) AS DOUBLE) AS vocab FROM rtf),
       | tst AS (SELECT CAST(COALESCE(sum(tc), 0) AS DOUBLE) AS ttot FROM ttf),
       | lr AS (SELECT r.tok,
       |         CAST(ln((CAST(COALESCE(f.tc, 0) AS DOUBLE) + 1.0) / (tst.ttot + rst.vocab))
       |            - ln((CAST(r.rc AS DOUBLE) + 1.0) / (rst.rtot + rst.vocab)) AS DECIMAL(18,8)) AS lr
       |        FROM rtf r LEFT JOIN ttf f USING (tok), rst, tst)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
       |       round(CAST(sum(l.lr) AS DOUBLE) / count(*), 4) AS iw
       |FROM t JOIN lr l USING (tok) GROUP BY t.doc_id""".stripMargin
  }

  // ---------------- Stratified split (c21) ----------------

  /** Seeded stratified train/val/test split (c21) — the assignment step
    * c16's leakage audit EXISTS to check: holdout quality dies when the
    * val/test slices are distributionally skewed (all-short docs, one
    * language), so the split must hold the corpus proportions WITHIN
    * every stratum, not just globally. Strata = (lang, length bucket);
    * within a stratum documents take a SEEDED deterministic shuffle
    * order (md5(doc_id, salt) — reproducible across runs, engines, and
    * partitionings, the c17 device) and the rank mod 10 allocates
    * 8/1/1 train/val/test EXACTLY (each stratum's split sizes are within
    * one document of the ideal fraction by construction — a Bernoulli
    * split only achieves that in expectation).
    *
    * Scale shape: one row-local hash + one window per stratum (the
    * exchange is at stratum grain and each stratum sorts independently);
    * at 100 TB the window is the standard rank-within-partition shuffle
    * — no global sort, no driver state. Gate output is the (stratum,
    * split) census. */
  def stratifiedSplit(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"),
      (col("n_chars") / lit(200)).cast(LongType).as("bucket"),
      md5(concat_ws("#", col("doc_id"), lit("c21-seed"))).as("h"))
      .withColumn("rk", row_number().over(w) - 1)
      .withColumn("split",
        when(pmod(col("rk"), lit(10)) === 0, "test")
          .when(pmod(col("rk"), lit(10)) === 1, "val")
          .otherwise("train"))
      .groupBy(col("lang"), col("bucket"), col("split"))
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB oracle twin of [[stratifiedSplit]] — same strata, same seeded
    * hash order, same rank-mod allocation. */
  def stratifiedSplitOracleSql: String =
    """WITH a AS (SELECT doc_id, lang, CAST(floor(n_chars / 200) AS BIGINT) AS bucket,
      |            md5(concat(CAST(doc_id AS VARCHAR), '#', 'c21-seed')) AS h,
      |            n_chars
      |           FROM documents),
      | r AS (SELECT doc_id, lang, bucket,
      |        row_number() OVER (PARTITION BY lang, bucket ORDER BY h, doc_id) - 1 AS rk
      |       FROM a)
      |SELECT lang, bucket,
      | CASE WHEN rk % 10 = 0 THEN 'test' WHEN rk % 10 = 1 THEN 'val' ELSE 'train' END AS split,
      | CAST(count(*) AS BIGINT) AS n
      |FROM r GROUP BY 1, 2, 3""".stripMargin

  // ---------------- File-stats manifest + data skipping (c20) ----------

  /** Once-per-JVM registry of c20's clustered layout + manifest per dir. */
  private[graft] val manifestReg =
    graft.core.AtRestRegistry[(String, String)]("corpus.c20_manifest", arity = 1)

  /** Rows per clustered file — small at gate scale so skipping has
    * something to skip; the production analog is the parquet row-group /
    * file size target. */
  private val ManifestFileRows = 64L

  /** File-stats manifest + data skipping (c20) — the table-format idea
    * (Iceberg/Delta manifests) expressed engine-first, and the piece c13's
    * hive layout cannot give: there, pruning needs the predicate column to
    * BE the path; here files are clustered on a SORT key (n_chars, the
    * rank-bucket clustering, deterministic), a tiny MANIFEST records each
    * file's (min, max, rows) COLUMN STATS, and a range predicate is
    * planned against the manifest FIRST — only files whose stat interval
    * overlaps the predicate are opened; the file id in the path is opaque.
    *
    * Scale shape: the manifest is smaller than the data by the file size
    * (one row per file — at 100 TB with 512 MB files that is ~200k rows),
    * so manifest planning is a driver-side metadata read exactly like an
    * Iceberg scan plan; clustering makes the stat intervals TIGHT, so a
    * selective range opens O(matching) files. The gate output carries the
    * audit (`files_read`/`files_total`) alongside the aggregate, and the
    * skip must be INVISIBLE to results (the oracle recomputes from the
    * flat table). */
  def manifestSkip(spark: SparkSession, dir: String): DataFrame = {
    val (dataPath, manifestPath) = manifestReg.getOrBuild(dir) {
      val dp = manifestReg.pathFor(Similarity.OracleDumpRoot, "c20_data", dir)
      val mp = manifestReg.pathFor(Similarity.OracleDumpRoot, "c20_manifest", dir)
      val w = Window.orderBy(col("n_chars"), col("doc_id"))
      val clustered = Tables.t(spark, dir, "documents")
        .withColumn("fid", ((row_number().over(w) - 1) / lit(ManifestFileRows))
          .cast(LongType))
      clustered.write.mode("overwrite").partitionBy("fid").parquet(dp)
      Tables.parquet(spark, dp)
        .groupBy(col("fid"))
        .agg(min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"),
          count(lit(1)).as("n_rows"))
        .coalesce(1).write.mode("overwrite").parquet(mp)
      (dp, mp)
    }
    // data-derived range predicate (driver scalars off a tiny aggregate)
    val mm = Tables.t(spark, dir, "documents")
      .agg(min(col("n_chars")), max(col("n_chars"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 3, mn + (mx - mn) / 2)
    // plan against the manifest: the interval-overlap test picks the files
    val manifest = Tables.parquet(spark, manifestPath)
    val filesTotal = manifest.count()
    val qualifying = manifest
      .filter(col("max_chars") >= lo && col("min_chars") <= hi)
      .select(col("fid").cast(LongType)).collect().map(_.getLong(0)).sorted
    Tables.parquet(spark, dataPath)
      .filter(col("fid").isin(qualifying.toSeq: _*)) // only planned files open
      .filter(col("n_chars").between(lo, hi))        // residual row predicate
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        lit(qualifying.length.toLong).as("files_read"),
        lit(filesTotal).as("files_total"))
  }

  /** The planned data scan alone (manifest-selected files + residual
    * predicate), for the file-skipping plan pin. */
  private[graft] def manifestSkipPlanProbe(spark: SparkSession, dir: String): DataFrame = {
    manifestSkip(spark, dir) // ensures layout + manifest exist
    val (dataPath, manifestPath) = manifestReg.lookup(dir).get
    val mm = Tables.t(spark, dir, "documents")
      .agg(min(col("n_chars")), max(col("n_chars"))).head()
    val (mn, mx) = (mm.getLong(0), mm.getLong(1))
    val (lo, hi) = (mn + (mx - mn) / 3, mn + (mx - mn) / 2)
    val qualifying = Tables.parquet(spark, manifestPath)
      .filter(col("max_chars") >= lo && col("min_chars") <= hi)
      .select(col("fid").cast(LongType)).collect().map(_.getLong(0)).sorted
    Tables.parquet(spark, dataPath)
      .filter(col("fid").isin(qualifying.toSeq: _*))
      .filter(col("n_chars").between(lo, hi))
  }

  /** DuckDB oracle twin of [[manifestSkip]] — the clustering, manifest,
    * and skip replayed relationally from the flat table (the skip must be
    * invisible to the aggregate; the audit columns replay from the same
    * rank-bucket file assignment). */
  def manifestSkipOracleSql: String =
    s"""WITH f AS (SELECT lang, n_chars,
       |            (row_number() OVER (ORDER BY n_chars, doc_id) - 1) // $ManifestFileRows AS fid
       |           FROM documents),
       | mm AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
       | pred AS (SELECT mn + (mx - mn) // 3 AS lo, mn + (mx - mn) // 2 AS hi FROM mm),
       | man AS (SELECT fid, min(n_chars) AS mn_c, max(n_chars) AS mx_c FROM f GROUP BY fid),
       | audit AS (SELECT
       |   (SELECT count(*) FROM man, pred WHERE mx_c >= lo AND mn_c <= hi) AS files_read,
       |   (SELECT count(*) FROM man) AS files_total)
       |SELECT f.lang, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(f.n_chars) AS BIGINT) AS sum_chars,
       | CAST(audit.files_read AS BIGINT) AS files_read,
       | CAST(audit.files_total AS BIGINT) AS files_total
       |FROM f, pred, audit
       |WHERE f.n_chars BETWEEN pred.lo AND pred.hi
       |GROUP BY f.lang, audit.files_read, audit.files_total""".stripMargin

  /** Per-source quality DRIFT monitor (c25) — the control chart a
    * continuously-ingesting pipeline keeps per upstream source: mean t2
    * quality per (source, ingestion batch), z-scored against the source's
    * own across-batch profile, flagging batches whose quality shifted
    * (a crawler behind a bot-wall starts returning error pages; a feed
    * switches encodings — both show up as a batch-mean excursion long
    * before eyeballing documents would). Batches are derived
    * deterministically from doc_id (`doc_id div 50` — the c10 snapshot
    * device; a live deployment keys on the real ingestion date).
    *
    * Cross-engine: batch means are exact decimal sums over the 4-decimal
    * t2 score; the profile (mean/std of batch means per source) uses the
    * e13 formula — exact decimal sums, sample variance s2 − s1²/c over
    * c−1, one shared double expression — so z is bit-identical. Scale:
    * one row-local scoring pass, a (source, batch)-grain fold, a
    * source-grain fold over THAT (batch-count rows), and a broadcast
    * profile join back — nothing at corpus grain after the first fold. */
  def qualityDrift(docs: DataFrame, batchSize: Int = 50): DataFrame = {
    // batch means round at SIX decimals: a 4-decimal mean of a 2-document
    // batch lands exactly on the .00005 boundary (sum/2 has 5 decimals),
    // where Spark's shortest-repr HALF_UP and DuckDB's binary rounding
    // disagree — the t2 sum-not-mean lesson; at scale 6 a /2 mean is EXACT
    // and /3 means are non-terminating (never half-boundary)
    val dec = DecimalType(18, 6)
    val scored = TextOps.qualityScores(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("source"), expr(s"doc_id div $batchSize").cast(LongType).as("batch"),
        col("quality"))
    val batches = scored.groupBy(col("source"), col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast(dec)).cast(DoubleType) / count(lit(1)), 6).as("mq"))
    val prof = batches.groupBy(col("source"))
      .agg(count(lit(1)).cast(DoubleType).as("c"),
        sum(col("mq").cast(dec)).cast(DoubleType).as("s1"),
        sum((col("mq").cast(dec) * col("mq").cast(dec))).cast(DoubleType).as("s2"))
    batches.join(broadcast(prof), Seq("source"))
      .select(col("source"), col("batch"), col("n_docs"), col("mq"),
        round((col("mq") - col("s1") / col("c")) /
          sqrt((col("s2") - col("s1") * col("s1") / col("c")) / (col("c") - 1)), 4).as("z"))
      .withColumn("drifted", abs(col("z")) > 2.0)
  }

  /** DuckDB oracle twin of [[qualityDrift]] — t2 scores, same batch
    * derivation, decimal folds, and the shared variance formula. */
  def qualityDriftOracleSql(batchSize: Int = 50): String =
    s"""WITH q AS (SELECT doc_id, quality
       |           FROM (${TextOps.qualityOracleSql.replace("\n", "\n      ")}) t),
       | sc AS (SELECT d.source, d.doc_id // $batchSize AS batch, q.quality
       |        FROM q JOIN documents d USING (doc_id)),
       | b AS (SELECT source, batch, CAST(count(*) AS BIGINT) AS n_docs,
       |        round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mq
       |       FROM sc GROUP BY source, batch),
       | p AS (SELECT source, CAST(count(*) AS DOUBLE) AS c,
       |        CAST(sum(CAST(mq AS DECIMAL(18,6))) AS DOUBLE) AS s1,
       |        CAST(sum(CAST(mq AS DECIMAL(18,6)) * CAST(mq AS DECIMAL(18,6))) AS DOUBLE) AS s2
       |       FROM b GROUP BY source)
       |SELECT b.source, CAST(b.batch AS BIGINT) AS batch, b.n_docs, b.mq,
       | round((b.mq - p.s1 / p.c) / sqrt((p.s2 - p.s1 * p.s1 / p.c) / (p.c - 1)), 4) AS z,
       | (abs(round((b.mq - p.s1 / p.c) / sqrt((p.s2 - p.s1 * p.s1 / p.c) / (p.c - 1)), 4)) > 2.0)
       |   AS drifted
       |FROM b JOIN p USING (source)""".stripMargin

  /** Quality-curriculum schedule (c23) — the serving-order pass of
    * curriculum training: every document gets a PHASE (1 = best quality
    * decile, 10 = worst) and a seeded within-phase shuffle key, so the
    * trainer streams phase 1 first and descends. Deciles are computed
    * WITHOUT a global sort: quality is a 4-decimal score (t2), so its
    * value GRID is bounded (≤ 20001 cells at any corpus size) — one
    * map-side-combined histogram at quality grain, a cumulative count over
    * that tiny relation (single-partition window over the grid, not the
    * corpus), and phase = ⌈10·cum_desc/total⌉ in exact integer arithmetic
    * joined back broadcast. The within-phase order is the c17 device
    * (md5 of a salted doc_id — deterministic across runs, engines, and
    * partitionings). The corpus itself is touched by exactly one row-local
    * scoring pass + one broadcast join.
    *
    * The `ntile(10) OVER (ORDER BY quality)` formulation every warehouse
    * reaches for first serializes the corpus through ONE sort partition —
    * this histogram form is how the same statistic survives 100 TB. */
  def curriculumSchedule(docs: DataFrame): DataFrame = {
    val q = TextOps.qualityScores(docs).select(col("doc_id"), col("quality"))
    // max(…, 1): empty-corpus guard against a `div 0` literal (ADVICE r10)
    val tot = math.max(docs.count(), 1L)
    val wd = Window.orderBy(col("quality").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val phases = q.groupBy(col("quality")).agg(count(lit(1)).as("c"))
      .withColumn("cd", sum(col("c")).over(wd))
      .select(col("quality"),
        expr(s"CAST((10 * cd + $tot - 1) div $tot AS BIGINT)").as("phase"))
    q.join(broadcast(phases), Seq("quality"))
      .select(col("doc_id"), col("quality"), col("phase"),
        md5(concat(lit("c23:"), col("doc_id").cast("string"))).as("ord"))
  }

  /** DuckDB oracle twin of [[curriculumSchedule]] — same t2 scores,
    * histogram decile arithmetic, and salted order key. */
  def curriculumScheduleOracleSql: String =
    s"""WITH q AS (SELECT doc_id, quality
       |           FROM (${TextOps.qualityOracleSql.replace("\n", "\n      ")}) t),
       | h AS (SELECT quality, count(*) AS c FROM q GROUP BY quality),
       | cum AS (SELECT quality, sum(c) OVER (ORDER BY quality DESC) AS cd,
       |          (SELECT sum(c) FROM h) AS tot FROM h),
       | d AS (SELECT quality, CAST((10 * cd + tot - 1) // tot AS BIGINT) AS phase FROM cum)
       |SELECT q.doc_id, q.quality, d.phase,
       | md5('c23:' || CAST(q.doc_id AS VARCHAR)) AS ord
       |FROM q JOIN d USING (quality)""".stripMargin

  /** Quality-aware repetition budget (c24) — the data-constrained-scaling
    * recipe (repeat good data rather than adding bad data, with diminishing
    * returns past ~4 epochs): each document's allowed epoch count comes
    * from its c23 quality phase — phases 1–2 repeat 4×, 3–5 repeat 2×,
    * 6–10 are seen once — and the serving plan reports each document's
    * served-token contribution `n_tok · epochs`, the accounting a token
    * budget negotiation needs (unique vs served mass per phase).
    *
    * Scale shape: the phase relation is c23's (histogram deciles, no
    * global sort); the budget mapping and token count are row-local; the
    * whole operator is one broadcast join over the corpus scan c23 already
    * performs. */
  def repetitionBudget(docs: DataFrame): DataFrame =
    curriculumSchedule(docs)
      .join(docs.select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok")), Seq("doc_id"))
      .withColumn("epochs",
        when(col("phase") <= 2, 4L).when(col("phase") <= 5, 2L).otherwise(1L))
      .select(col("doc_id"), col("quality"), col("phase"), col("n_tok"), col("epochs"),
        (col("n_tok") * col("epochs")).as("served_tok"))

  /** DuckDB oracle twin of [[repetitionBudget]] — the c23 oracle chain
    * plus the same phase→epochs mapping and token accounting. */
  def repetitionBudgetOracleSql: String =
    s"""WITH sched AS (${curriculumScheduleOracleSql.replace("\n", "\n      ")}),
       | tk AS (SELECT doc_id, CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
       |        FROM documents),
       | j AS (SELECT s.doc_id, s.quality, s.phase, tk.n_tok,
       |        CASE WHEN s.phase <= 2 THEN 4 WHEN s.phase <= 5 THEN 2 ELSE 1 END AS epochs
       |       FROM sched s JOIN tk USING (doc_id))
       |SELECT doc_id, quality, phase, n_tok, CAST(epochs AS BIGINT) AS epochs,
       | CAST(n_tok * epochs AS BIGINT) AS served_tok
       |FROM j""".stripMargin

  /** Near-dup cluster REPRESENTATIVE selection (c22) — the survivor pass
    * that turns a dedup clustering into a kept corpus: within every
    * near-dup cluster (the d5 relation) keep the single highest-quality
    * member (the t2 score; ties → lowest doc_id, fully deterministic), and
    * mark every other member for removal. This is the step production
    * pipelines (RefinedWeb/FineWeb-style) run between "cluster the dups"
    * and "write the cleaned corpus" — keeping the cluster MINIMUM id (what
    * `cluster == doc_id` gives for free) discards the best copy whenever a
    * higher-quality revision arrived later.
    *
    * Scale shape: composition, not recomputation — the cluster relation is
    * d5's (O(pairs) LSH + bounded-round label propagation) and quality is
    * row-local; gluing them costs ONE doc-keyed equi-join (cluster members
    * only — a vanishing fraction of the corpus) plus one cluster-keyed
    * window whose rank≤1 pushes into the exchange as a group-limit. No
    * text moves: the join carries (doc_id, cluster, quality) only. */
  def clusterReps(docs: DataFrame, pairs: Option[DataFrame] = None): DataFrame = {
    val clusters = Dedup.dupClusters(docs, 0.8, pairs = pairs)
    val quality = TextOps.qualityScores(docs).select(col("doc_id"), col("quality"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster"), col("quality"), col("keep"))
  }

  /** Multi-epoch budget allocation across sources (c26) — the
    * data-constrained-scaling negotiation (how many EPOCHS does each
    * source get when the served-token budget exceeds the unique mass but
    * repetition must stay bounded): epoch units are granted BREADTH-FIRST
    * (every source's 1st epoch before anyone's 2nd — repetition has
    * diminishing returns, so a 2nd copy of anything beats a 5th of the
    * best) and QUALITY-PRIORITIZED within each round (t2 mean quality
    * decides who gets the marginal repeat), capped at 4 epochs, until the
    * running served mass would exceed the budget (here 200% of the unique
    * token mass). Output: per source, its unique mass, mean quality,
    * granted epochs, and served-token contribution.
    *
    * Scale shape: the corpus is touched by ONE row-local scoring/counting
    * pass folded to source grain; the allocator is a single running-sum
    * window over the 4·|sources| epoch-unit relation — aggregate-grain,
    * corpus-size-independent, exact integer token arithmetic. */
  def epochAllocation(docs: DataFrame, budgetPct: Long = 200, maxEpochs: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = TextOps.qualityScores(docs).select(col("doc_id"), col("quality"))
    val agg = Tables.materialize(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
        .join(q, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("uniq_tok"),
          round(sum(col("quality").cast(DecimalType(18, 6))).cast(DoubleType) /
            count(lit(1)), 6).as("mq")))
    val budget = agg.agg(sum(col("uniq_tok"))).head.getLong(0) * budgetPct / 100
    val w = Window.orderBy(col("k"), col("mq").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = agg.select(col("source"), col("uniq_tok"), col("mq"),
      explode(expr(s"sequence(1, $maxEpochs)")).as("k"))
      .withColumn("run", sum(col("uniq_tok")).over(w))
      .filter(col("run") <= budget)
      .groupBy(col("source")).agg(count(lit(1)).as("epochs"))
    agg.join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("uniq_tok"), col("mq"),
        coalesce(col("epochs"), lit(0L)).as("epochs"),
        (coalesce(col("epochs"), lit(0L)) * col("uniq_tok")).as("served_tok"))
  }

  /** DEDUP-AWARE epoch allocation (c28) — c26's budget negotiation run on
    * the token masses that actually matter: raw per-source counts double-
    * charge duplicated content (a source that is 40% near-duplicate holds
    * 40% less distinct signal than its token count claims), so each
    * document's mass is discounted by its d16 soft-dedup weight
    * (1/multiplicity — the expected-unique-mass correction) BEFORE the
    * allocator runs. Same breadth-first quality-prioritized grant loop as
    * c26, with the running sum and budget in EXACT decimals (weight is a
    * 4-decimal value, so weight·tokens is exact decimal arithmetic,
    * order-insensitive). The c26-vs-c28 epoch delta per source is
    * precisely the repetition tax duplicates impose.
    *
    * Scale shape: the d16 relation scales as its own operator (LSH +
    * bounded-round CC, no all-pairs); the allocator stays one window over
    * 4·|sources| rows. Pure composition — the c9 principle. */
  def effectiveEpochAllocation(docs: DataFrame, budgetPct: Long = 200,
      maxEpochs: Int = 4, pairs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(18, 4)
    val wts = Dedup.softDedupWeights(docs, pairs = pairs)
      .select(col("doc_id"), col("weight"))
    val q = TextOps.qualityScores(docs).select(col("doc_id"), col("quality"))
    val agg = Tables.materialize(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
        .join(wts, Seq("doc_id")).join(q, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("uniq_tok"),
          sum(col("weight").cast(dec) * col("n_tok")).as("eff_tok"),
          round(sum(col("quality").cast(DecimalType(18, 6))).cast(DoubleType) /
            count(lit(1)), 6).as("mq")))
    val budget = agg.agg(sum(col("eff_tok"))).head.getDecimal(0)
      .multiply(new java.math.BigDecimal(budgetPct))
      .divide(new java.math.BigDecimal(100))
    val w = Window.orderBy(col("k"), col("mq").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kept = agg.select(col("source"), col("eff_tok"), col("mq"),
      explode(expr(s"sequence(1, $maxEpochs)")).as("k"))
      .withColumn("run", sum(col("eff_tok")).over(w))
      .filter(col("run") <= lit(budget))
      .groupBy(col("source")).agg(count(lit(1)).as("epochs"))
    agg.join(kept, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("uniq_tok"),
        Tables.outd(col("eff_tok"), 2).as("eff_tok"), col("mq"),
        coalesce(col("epochs"), lit(0L)).as("epochs"),
        Tables.outd(coalesce(col("epochs"), lit(0L)) * col("eff_tok"), 2).as("served_eff"))
  }

  /** K-ANONYMITY audit over quasi-identifiers (c30) — the re-identification
    * screen a governed corpus release runs (GDPR/CCPA reviews ask it
    * verbatim): documents group by their quasi-identifier tuple — here
    * (lang, source, length decile) — and any equivalence class smaller
    * than k is re-identifiable (its members are distinguishable by
    * attributes alone). The report gives every class its size, its
    * k-anonymous verdict, and the suppression cost (how many documents a
    * release must drop or generalize). The length decile uses the c23
    * histogram device over the exact `n_chars` grid — no global sort.
    *
    * Scale shape: one histogram fold for the decile boundaries
    * (value-grain, broadcast back), one group-by at class grain. */
  def kAnonymity(docs: DataFrame, k: Long = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // max(…, 1): empty-corpus guard against a `div 0` literal (ADVICE r10)
    val tot = math.max(docs.count(), 1L)
    val wd = Window.orderBy(col("n_chars").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deciles = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("cd", sum(col("c")).over(wd))
      .select(col("n_chars"),
        expr(s"CAST((10 * cd + $tot - 1) div $tot AS BIGINT)").as("len_decile"))
    docs.select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .join(broadcast(deciles), Seq("n_chars"))
      .groupBy(col("lang"), col("source"), col("len_decile"))
      .agg(count(lit(1)).as("class_size"))
      .withColumn("k_anonymous", col("class_size") >= k)
      .withColumn("suppressed", when(col("class_size") >= k, 0L).otherwise(col("class_size")))
  }

  /** DuckDB oracle twin of [[kAnonymity]] — same decile grid, class fold,
    * and verdict. */
  def kAnonymityOracleSql(k: Long = 5): String =
    s"""WITH h AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY n_chars),
       | cum AS (SELECT n_chars, sum(c) OVER (ORDER BY n_chars DESC) AS cd,
       |          (SELECT sum(c) FROM h) AS tot FROM h),
       | d AS (SELECT n_chars, CAST((10 * cd + tot - 1) // tot AS BIGINT) AS len_decile FROM cum),
       | cl AS (SELECT doc.lang, doc.source, d.len_decile, count(*) AS class_size
       |        FROM documents doc JOIN d USING (n_chars)
       |        GROUP BY doc.lang, doc.source, d.len_decile)
       |SELECT lang, source, len_decile, CAST(class_size AS BIGINT) AS class_size,
       | (class_size >= $k) AS k_anonymous,
       | CAST(CASE WHEN class_size >= $k THEN 0 ELSE class_size END AS BIGINT) AS suppressed
       |FROM cl""".stripMargin

  /** The c29 agreement arithmetic over per-source integer tallies
    * (`agree`, `p1..p3`, `n`) as ONE engine-portable expression chain:
    * observed agreement Pₒ = agree/(3n), chance agreement
    * Pₑ = p̄² + (1−p̄)² with p̄ the pooled positive rate, Fleiss-style
    * κ = (Pₒ−Pₑ)/(1−Pₑ) — fixed-order double arithmetic from exact
    * integers, guarded for the degenerate all-agree marginal. */
  private def kappaSql: String = {
    val po = "(CAST(agree AS DOUBLE) / (3 * n))"
    val pb = "(CAST(p1 + p2 + p3 AS DOUBLE) / (3 * n))"
    val pe = s"($pb * $pb + (1 - $pb) * (1 - $pb))"
    s"CASE WHEN $pe = 1.0 THEN 1.0 ELSE round(($po - $pe) / (1 - $pe), 4) END"
  }
  private def poSql: String = "round(CAST(agree AS DOUBLE) / (3 * n), 4)"

  /** Weak-labeler AGREEMENT audit (c29) — the reliability check a
    * weak-supervision pipeline runs before trusting heuristic labels
    * (Snorkel-style labeling functions only help where they agree more
    * than chance; a source where κ ≈ 0 is getting random labels): three
    * in-repo raters vote keep/drop per document — t2 quality ≥ 1.0, the
    * t16 Gopher rule conjunction, and a t19 character-entropy band
    * [2.8, 4.0] — and per source the tally yields pairwise observed
    * agreement Pₒ and chance-corrected Fleiss κ. All votes are exact
    * integer/boolean comparisons on already-rounded scores, so the tallies
    * are bit-stable; the κ chain is one fixed-order double expression.
    *
    * Scale shape: three row-local scoring passes (each its own operator's
    * cost), two doc-grain equi-joins, one source-grain fold. */
  def raterAgreement(docs: DataFrame): DataFrame = {
    val r1 = TextOps.qualityScores(docs)
      .select(col("doc_id"), (col("quality") >= 1.0).as("v1"))
    // the t16 registration (and its oracle) evaluate the rules over the
    // synthetic-lines-augmented text — this rater votes on the same input
    val r2 = TextOps.gopherRules(TextOps.withSyntheticLines(docs))
      .select(col("doc_id"), col("keep").as("v2"))
    val r3 = TextOps.charEntropy(docs)
      .select(col("doc_id"), col("ent").between(2.8, 4.0).as("v3"))
    docs.select(col("doc_id"), col("source"))
      .join(r1, Seq("doc_id")).join(r2, Seq("doc_id")).join(r3, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("v1").cast(LongType)).as("p1"),
        sum(col("v2").cast(LongType)).as("p2"),
        sum(col("v3").cast(LongType)).as("p3"),
        sum(expr("CAST(v1 = v2 AS INT) + CAST(v1 = v3 AS INT) + CAST(v2 = v3 AS INT)"))
          .as("agree"))
      .select(col("source"), col("n"), col("p1"), col("p2"), col("p3"), col("agree"),
        expr(poSql).as("po"), expr(kappaSql).as("kappa"))
  }

  /** DuckDB oracle twin of [[raterAgreement]] — the three rater oracles as
    * CTE subqueries, identical tallies and κ chain. */
  def raterAgreementOracleSql: String =
    s"""WITH q AS (SELECT doc_id, (quality >= 1.0) AS v1
       |           FROM (${TextOps.qualityOracleSql.replace("\n", "\n      ")}) t1),
       | g AS (SELECT doc_id, keep AS v2
       |       FROM (${TextOps.gopherRulesOracleSql().replace("\n", "\n      ")}) t2),
       | e AS (SELECT doc_id, (ent BETWEEN 2.8 AND 4.0) AS v3
       |       FROM (${TextOps.charEntropyOracleSql.replace("\n", "\n      ")}) t3),
       | v AS (SELECT d.source, q.v1, g.v2, e.v3
       |       FROM documents d JOIN q USING (doc_id) JOIN g USING (doc_id)
       |        JOIN e USING (doc_id)),
       | a AS (SELECT source, count(*) AS n,
       |        sum(CAST(v1 AS INT)) AS p1, sum(CAST(v2 AS INT)) AS p2,
       |        sum(CAST(v3 AS INT)) AS p3,
       |        sum(CAST(v1 = v2 AS INT) + CAST(v1 = v3 AS INT) + CAST(v2 = v3 AS INT)) AS agree
       |       FROM v GROUP BY source)
       |SELECT source, CAST(n AS BIGINT) AS n, CAST(p1 AS BIGINT) AS p1,
       | CAST(p2 AS BIGINT) AS p2, CAST(p3 AS BIGINT) AS p3,
       | CAST(agree AS BIGINT) AS agree,
       | $poSql AS po, $kappaSql AS kappa
       |FROM a""".stripMargin

  /** Tokenizer-fertility data card (c27) — the tokens-per-word table every
    * multilingual data card publishes (fertility decides how much compute
    * a language really gets per word: a tokenizer that fragments one
    * language 2× charges it double per token budget; the metric drives
    * both tokenizer choice and mixture correction): per (lang, source),
    * exact token and word counts under the t6 pre-tokenizer
    * ([[TextOps.BpeTokenRe]] — the GPT-2-style split both engines share)
    * vs the whitespace word count, fertility = tokens/words, plus
    * chars-per-token compression. All counts are exact integers folded
    * map-side; the two divisions happen once per output row.
    *
    * Scale shape: one row-local counting pass over the corpus → one
    * aggregation at (lang × source) grain — the c25 sweep discipline. */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"), col("source"),
      size(expr(s"regexp_extract_all(text, '${TextOps.BpeTokenRe}', 0)")).cast(LongType).as("n_tok"),
      size(split(col("text"), "\\s+")).cast(LongType).as("n_words"),
      length(col("text")).cast(LongType).as("n_chars"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"),
        sum(col("n_words")).as("n_words"), sum(col("n_chars")).as("n_chars"))
      .withColumn("fertility",
        round(col("n_tok").cast(DoubleType) / col("n_words"), 4))
      .withColumn("chars_per_tok",
        round(col("n_chars").cast(DoubleType) / col("n_tok"), 4))

  /** DuckDB oracle twin of [[tokenizerFertility]] — same pre-tokenizer,
    * folds, and divisions. */
  def tokenizerFertilityOracleSql: String =
    s"""WITH x AS (SELECT lang, source,
       |            len(regexp_extract_all(text, '${TextOps.BpeTokenRe}')) AS n_tok,
       |            len(string_split_regex(text, '\\s+')) AS n_words,
       |            length(text) AS n_chars
       |           FROM documents)
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_tok) AS BIGINT) AS n_tok,
       | CAST(sum(n_words) AS BIGINT) AS n_words,
       | CAST(sum(n_chars) AS BIGINT) AS n_chars,
       | round(CAST(sum(n_tok) AS DOUBLE) / sum(n_words), 4) AS fertility,
       | round(CAST(sum(n_chars) AS DOUBLE) / sum(n_tok), 4) AS chars_per_tok
       |FROM x GROUP BY lang, source""".stripMargin

  /** DuckDB oracle twin of [[epochAllocation]] — same t2 scores, source
    * fold, epoch-unit expansion, running-sum cut, and integer budget. */
  def epochAllocationOracleSql(budgetPct: Long = 200, maxEpochs: Int = 4): String =
    s"""WITH q AS (SELECT doc_id, quality
       |           FROM (${TextOps.qualityOracleSql.replace("\n", "\n      ")}) t),
       | s AS (SELECT d.source, len(string_split_regex(d.text, '\\s+')) AS n_tok, q.quality
       |       FROM documents d JOIN q USING (doc_id)),
       | a AS (SELECT source, count(*) AS n_docs, sum(n_tok) AS uniq_tok,
       |        round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mq
       |       FROM s GROUP BY source),
       | tot AS (SELECT sum(uniq_tok) * $budgetPct // 100 AS b FROM a),
       | u AS (SELECT a.source, a.uniq_tok, a.mq, r.k
       |       FROM a, range(1, $maxEpochs + 1) r(k)),
       | w AS (SELECT source,
       |        sum(uniq_tok) OVER (ORDER BY k, mq DESC, source) AS run FROM u),
       | kept AS (SELECT source, count(*) AS epochs
       |          FROM w, tot WHERE run <= tot.b GROUP BY source)
       |SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs,
       | CAST(a.uniq_tok AS BIGINT) AS uniq_tok, a.mq,
       | CAST(coalesce(k.epochs, 0) AS BIGINT) AS epochs,
       | CAST(coalesce(k.epochs, 0) * a.uniq_tok AS BIGINT) AS served_tok
       |FROM a LEFT JOIN kept k USING (source)""".stripMargin

  // ---------------- temperature-scaled source mixing (c31) ----------------

  /** TEMPERATURE-scaled source sampling weights (c31) — the multilingual/
    * multi-source mixing rule (the mT5/UniMax family): raw proportional
    * sampling lets the biggest source drown the mix, uniform sampling
    * over-repeats the smallest; the standard compromise samples source i
    * with p_i ∝ n_i^(1/T). This report gives, per source, the raw share,
    * the temperature share, the expected token draw at a one-epoch total
    * budget, and the REPETITION factor (expected draw / unique tokens —
    * the over-sampling risk the UniMax paper caps; >1 means that source
    * repeats). T is fixed at 2: the exponent becomes sqrt, which IEEE 754
    * requires correctly rounded in both engines — an arbitrary-α pow has
    * no such cross-engine contract, so a tunable temperature would put
    * the gate on an implementation-defined path. The op family divides
    * cleanly: c7 APPLIES a doc-grain temperature keep decision, c26/c28
    * allocate whole epochs under a budget — this REPORTS the draw
    * distribution itself plus each source's repetition factor, the
    * artifact the sampler is configured from.
    *
    * Determinism: weights round to 4 decimals then sum as EXACT decimals
    * (order-insensitive); every division/multiplication chain is written
    * with the same association in both engines. Scale shape: one
    * map-side-combined source fold; everything after is |sources|-grain
    * (the unpartitioned window is bounded by source cardinality). */
  def samplingShares(docs: DataFrame): DataFrame = {
    val dec = DecimalType(18, 4)
    val agg = docs
      .select(col("source"), size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val share = col("w").cast(DoubleType) / col("tot_w").cast(DoubleType)
    agg
      .withColumn("w", round(sqrt(col("n_tok").cast(DoubleType)), 4).cast(dec))
      .withColumn("tot_tok", sum(col("n_tok")).over(wAll))
      .withColumn("tot_w", sum(col("w")).over(wAll))
      .select(col("source"), col("n_docs"), col("n_tok"),
        round(col("n_tok").cast(DoubleType) / col("tot_tok").cast(DoubleType), 6)
          .as("raw_share"),
        round(share, 6).as("temp_share"),
        round(share * col("tot_tok").cast(DoubleType), 2).as("exp_tok"),
        when(col("n_tok") > 0,
          round(share * col("tot_tok").cast(DoubleType) / col("n_tok").cast(DoubleType), 4))
          .as("repetition"))
  }

  /** DuckDB oracle twin of [[samplingShares]] — same token fold, sqrt
    * weights rounded-then-summed as decimals, and identically associated
    * arithmetic chains. */
  def samplingSharesOracleSql: String =
    """WITH a AS (SELECT source, count(*) AS n_docs,
      |        sum(len(string_split_regex(text, '\s+'))) AS n_tok
      |       FROM documents GROUP BY source),
      | w AS (SELECT source, n_docs, n_tok,
      |        CAST(round(sqrt(CAST(n_tok AS DOUBLE)), 4) AS DECIMAL(18,4)) AS w FROM a),
      | t AS (SELECT *, sum(n_tok) OVER () AS tot_tok, sum(w) OVER () AS tot_w FROM w)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tok AS BIGINT) AS n_tok,
      | round(CAST(n_tok AS DOUBLE) / CAST(tot_tok AS DOUBLE), 6) AS raw_share,
      | round(CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE), 6) AS temp_share,
      | round(CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE) * CAST(tot_tok AS DOUBLE), 2) AS exp_tok,
      | CASE WHEN n_tok > 0 THEN
      |  round(CAST(w AS DOUBLE) / CAST(tot_w AS DOUBLE) * CAST(tot_tok AS DOUBLE) / CAST(n_tok AS DOUBLE), 4)
      | END AS repetition
      |FROM t""".stripMargin
}
