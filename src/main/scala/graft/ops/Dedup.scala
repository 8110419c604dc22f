package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Tables._

/** Document deduplication operators for large-scale training-data pipelines:
  * exact (content hash), exact n-gram Jaccard, MinHash+LSH near-dup, and
  * SimHash fingerprints.
  *
  * Scale design: everything is expressed as joins/aggregations over an
  * inverted shingle index or LSH band buckets — no all-pairs comparison ever
  * materializes. At 100 TB the band-bucket join shuffles only
  * (docs × bands) rows and candidate verification touches only bucket
  * collisions.
  */
object Dedup {

  /** Distinct 3-gram word shingles per document (classic near-dup unit).
    * The per-document dedup is a global hash-aggregate Exchange on purpose:
    * a row-local `array_distinct` looks cheaper (no shuffle) but Spark's
    * ArrayDistinct degrades to a quadratic nested loop for non-primitive
    * element types, which measured ~6x SLOWER end-to-end on string shingles
    * than the codegen'd explode+distinct — the shuffle is the fast path. */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"))
        .as("shingle"))
      .distinct()

  /** Exact duplicate groups by content hash (md5 — stable across engines). */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))

  /** All pairs with 3-gram-shingle Jaccard ≥ `minJ` — exact, via prefix
    * filtering (the AllPairs/PPJoin principle): shingles get a global
    * rarity order (document frequency, ties on the shingle), and only each
    * document's PREFIX — its `|A| - ceil(t·|A|) + 1` rarest shingles — is
    * indexed for the candidate self-join. Completeness: a qualifying pair
    * shares `o ≥ ceil(t·|A|)` shingles, so its smallest common shingle has
    * rank ≤ `|A| - o + 1 ≤ |A| - ceil(t·|A|) + 1` in BOTH documents, i.e.
    * it lies in both prefixes. Recall is therefore exactly 1 (the oracle
    * checks this), while stopword-class shingles — the hot join keys that
    * blow up a naive inverted index at corpus scale — are excluded from
    * the index by construction. Candidates are then verified with an exact
    * intersection count. The prefix-length arithmetic runs in decimal so a
    * binary-float `t·|A|` can never round the prefix one short. */
  def ngramJaccardPairs(docs: DataFrame, minJ: Double): DataFrame =
    ngramJaccardPairsFrom(shingles(docs).filter(col("doc_id").isNotNull), minJ)

  /** [[ngramJaccardPairs]] over an existing shingle relation — the seam
    * d18 uses to feed its ground-truth pairs and its simhash bands from
    * ONE shingle pipeline. */
  private[ops] def ngramJaccardPairsFrom(sh0: DataFrame, minJ: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE pass builds the ranked per-document shingle relation: document
    // frequency comes from a count-over-window on the shingle partition (a
    // spill-safe sort-based exchange — no dfreq join, so the shingle
    // pipeline has a single consumer and the doc relation is scanned
    // exactly once), then one aggregation collects, per document, the full
    // shingle set sorted by global rarity (struct sort: dfreq asc, shingle
    // asc). The prefix is then just a row-local slice(); no per-row window
    // functions anywhere downstream.
    //
    // The result is MATERIALIZED eagerly ([[Tables.materialize]] — reliable
    // checkpoint when a checkpoint dir is configured, else executor-local
    // blocks) because it feeds FOUR consumers: the prefix explode (twice,
    // via the candidate self-join) and both verification sides. Without
    // the checkpoint each consumer re-instantiates the whole pipeline:
    // static ReuseExchange would collapse them, but under AQE (the default
    // everywhere this runs) exchange reuse defers to runtime
    // stage-matching, which does NOT fire across these self-join
    // aliasings — the r4 executed adaptive plan ran EIGHT FileScans of the
    // doc relation (PlanShapeSpec now pins scans == 1). Exact dedup at
    // corpus scale should still prefer minhashPairs (bounded candidates).
    val sh = sh0
    val tExact = lit(new java.math.BigDecimal(minJ.toString))
    val docSh = materialize(sh
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("dfreq"), col("shingle")))).as("ranked"))
      .select(col("doc_id"),
        expr("transform(ranked, r -> r.shingle)").as("shs"),
        size(col("ranked")).cast("long").as("sz")))
    val prefLen = (col("sz") - ceil(tExact * col("sz")) + lit(1)).cast("int")
    val pref = docSh.select(col("doc_id"), col("sz"),
      explode(slice(col("shs"), lit(1), prefLen)).as("shingle"))
    // Length filter (AllPairs): J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ⟹
    // min(|A|,|B|) ≥ t·max(|A|,|B|) — exact, so candidates between
    // incompatibly-sized documents are dropped BEFORE the pair ever
    // shuffles a shingle array (measured 118k→a fraction at sf0.1; at
    // corpus scale it is what keeps a hot prefix shingle from pairing
    // every tweet with every novel). Decimal t, so the bound can never
    // round against recall.
    val cand = pref.as("pa").join(pref.as("pb"),
        col("pa.shingle") === col("pb.shingle") && col("pa.doc_id") < col("pb.doc_id") &&
          least(col("pa.sz"), col("pb.sz")) >= tExact * greatest(col("pa.sz"), col("pb.sz")))
      .select(col("pa.doc_id").as("a"), col("pb.doc_id").as("b"))
      .distinct()
    verifyJaccard(cand, docSh.select(col("doc_id"), col("shs"), col("sz")), minJ)
  }

  /** Exact Jaccard over candidate pairs, verified row-locally with
    * `array_intersect` over the per-doc shingle sets (`sets` =
    * (doc_id, shs, sz)). The old formulation exploded both sides back to
    * (doc, shingle) rows and re-aggregated — two extra shuffles of
    * shingle-grain data per verification; this shuffles only doc-grain rows
    * for the two candidate joins. */
  /** Exact-Jaccard verification of candidate pairs: ONE copy of the
    * round-then-threshold rule (it must stay in lockstep with the shared
    * `ngramPairCtes` oracle), generalized over two set relations so the
    * self-join paths (d2/d3: both sides the same relation) and the
    * delta-vs-corpus path (d8) share it. */
  private[ops] def verifyJaccard2(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
      minJ: Double, aCol: String, bCol: String): DataFrame =
    verifyJaccardInline(
      cand.join(setsA.select(col("doc_id").as(aCol), col("shs").as("sha"), col("sz").as("sza")),
        Seq(aCol)),
      setsB, minJ, aCol, bCol)

  /** The verification kernel for candidates that already CARRY the a-side's
    * shingle set inline (`sha`, `sza`) — the streaming path (e9), where the
    * delta row computed its set row-locally and a by-id re-join would need
    * another stateful stage. Batch paths reach it through [[verifyJaccard2]]
    * so the round-then-threshold rule has exactly one copy. */
  private[graft] def verifyJaccardInline(cand: DataFrame, setsB: DataFrame,
      minJ: Double, aCol: String, bCol: String): DataFrame =
    cand
      .join(setsB.select(col("doc_id").as(bCol), col("shs").as("shb"), col("sz").as("szb")), Seq(bCol))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .select(col(aCol), col(bCol),
        round(col("inter").cast(DoubleType) / (col("sza") + col("szb") - col("inter")), 4).as("jac"))
      .filter(col("jac") >= minJ)

  private def verifyJaccard(cand: DataFrame, sets: DataFrame, minJ: Double): DataFrame =
    verifyJaccard2(cand, sets, sets, minJ, "a", "b")

  // ---------------- Containment (quote / sub-document detection) ----------------

  /** Synthetic-quote id offset: derived quote documents live at
    * `original_id + QuoteIdOffset` so a pair's direction is readable. */
  val QuoteIdOffset = 1000000L

  /** Which documents contribute a quote (one in QuoteMod). */
  val QuoteMod = 10

  /** The corpus augmented with synthetic QUOTE documents: every
    * [[QuoteMod]]-th document (with ≥ 10 tokens) contributes its leading
    * ⌈3n/10⌉ tokens as a derived document at `doc_id + QuoteIdOffset` —
    * the t11/c8/d12 injection device, here planting the sub-document
    * structure the synthetic corpus lacks (its only overlapping pairs are
    * full near-dups). The quote's shingle set is a subset of its source's,
    * so containment is 1.0 while Jaccard sits near 0.3 — exactly the pair
    * class symmetric dedup (d2/d3) is blind to. Integer prefix arithmetic
    * (⌈3n/10⌉ = (3n+9) div 10), so both engines cut identically. */
  private[ops] def withQuotes(docs: DataFrame): DataFrame = {
    val quotes = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .filter(pmod(col("doc_id"), lit(QuoteMod)) === 0 && size(col("toks")) >= 10)
      .select((col("doc_id") + lit(QuoteIdOffset)).as("doc_id"),
        array_join(slice(col("toks"), lit(1), expr("(size(toks) * 3 + 9) div 10")), " ")
          .as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(quotes)
  }

  /** All pairs with shingle CONTAINMENT ≥ `minC` over the quote-augmented
    * corpus (d13): C(A,B) = |S(A)∩S(B)| / min(|S(A)|,|S(B)|) — the
    * asymmetric overlap that catches a document EMBEDDED in a larger one
    * (quotation, boilerplate wrapping, page-in-crawl duplication), where
    * Jaccard divides by the union and a large host document hides the
    * copy. The training-data failure mode this screens is memorized
    * passages surviving dedup inside otherwise-novel pages.
    *
    * Candidate generation is the d2 prefix principle adapted to the
    * asymmetric measure: a qualifying pair shares o ≥ ⌈t·|A|⌉ shingles
    * (A the smaller side), so A's rarity-ranked `|A| − ⌈t·|A|⌉ + 1` prefix
    * must hit the pair — each doc's PREFIX probes the FULL inverted
    * shingle relation. No length-ratio filter applies (that is the point:
    * a 30-shingle quote must pair with a 300-shingle host), but the probe
    * keys are each document's globally RAREST shingles, so the per-key
    * fan-out of the prefix×full join stays small by construction —
    * stopword-class shingles never appear as probe keys. Verification is
    * one row-local exact intersection per candidate at doc grain. */
  def containmentPairs(docs: DataFrame, minC: Double): DataFrame =
    containmentFrom(materialize(rankedShingleSets(docs)), minC)

  /** Per-JVM registry of d13's rarity-ranked shingle-set relation per dir
    * (doc_id, shs ordered rarest-first, sz — over the quote-augmented
    * corpus). At 100 TB the ranked inverted-set relation is maintained by
    * the ingest path beside the d8 LSH index (rarity ranks drift slowly;
    * production refreshes them on a cadence) — before r13 every
    * containment run re-paid the shingle pipeline + the document-frequency
    * window, the heaviest part of the op. */
  private[graft] val containSetReg =
    graft.core.AtRestRegistry[String]("dedup.d13_ranked_sets", arity = 1)

  /** [[containmentPairs]] with the ranked-set relation AT REST: the first
    * toucher per dir builds it (the gate still exercises the ranking
    * pipeline), later runs pay only the prefix probe + verification. */
  def containmentPairsAtRest(spark: SparkSession, dir: String,
      minC: Double = 0.9): DataFrame = {
    val path = containSetReg.getOrBuild(dir) {
      val p = containSetReg.pathFor(Similarity.OracleDumpRoot, "d13_ranked_sets", dir)
      rankedShingleSets(t(spark, dir, "documents")).write.mode("overwrite").parquet(p)
      p
    }
    containmentFrom(Tables.parquet(spark, path), minC)
  }

  /** The rarity-ranked shingle-set relation over the quote-augmented
    * corpus — rarest shingles first, so the prefix filter probes the most
    * selective tokens. */
  private def rankedShingleSets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    shingles(withQuotes(docs)).filter(col("doc_id").isNotNull)
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("dfreq"), col("shingle")))).as("ranked"))
      .select(col("doc_id"),
        expr("transform(ranked, r -> r.shingle)").as("shs"),
        size(col("ranked")).cast("long").as("sz"))
  }

  /** The prefix-filtered candidate join + exact containment verification
    * over a ranked-set relation (asymmetric PPJoin on overlap/min-size). */
  private def containmentFrom(docSh: DataFrame, minC: Double): DataFrame = {
    val tExact = lit(new java.math.BigDecimal(minC.toString))
    val prefLen = (col("sz") - ceil(tExact * col("sz")) + lit(1)).cast("int")
    // the candidate join keys on xxhash64(shingle), not the shingle text
    // (r13 opt, guide "shuffle keys, not payloads"): the inverted-index
    // exchange carries 8-byte longs instead of ~25-char strings. A hash
    // collision can only ADD a candidate pair, and every candidate is
    // verified with the exact array_intersect below (cont < minC pairs
    // drop), so the result is unchanged by construction.
    val pref = docSh
      .select(col("doc_id"), explode(slice(col("shs"), lit(1), prefLen)).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("sh"))
    val full = docSh
      .select(col("doc_id").as("doc_b"), explode(col("shs")).as("s"))
      .select(col("doc_b"), xxhash64(col("s")).as("sh"))
    val cand = pref.join(full, Seq("sh"))
      .filter(col("doc_id") =!= col("doc_b"))
      .select(least(col("doc_id"), col("doc_b")).as("a"),
        greatest(col("doc_id"), col("doc_b")).as("b"))
      .distinct()
    // Verify with the CANDIDATE side as the build side (r14 opt, guide
    // §3.1): cand is candidate-grain (two longs per row) while docSh
    // carries the ranked shingle ARRAYS — the r13 shape let the planner
    // broadcast the docSh projections (corpus-grain array payloads) into
    // both verify joins. Streaming docSh against a broadcast of the pair
    // list, then of the candidate-grain a-side rows, bounds what moves at
    // candidate grain (never corpus grain): the b-side sets are read
    // where they rest and only the pairs' own a-side sets travel. Join
    // order flips are result-neutral (inner equi-joins).
    val aSide = docSh
      .select(col("doc_id").as("a"), col("shs").as("sha"), col("sz").as("sza"))
      .join(broadcast(cand), Seq("a"))
    docSh.select(col("doc_id").as("b"), col("shs").as("shb"), col("sz").as("szb"))
      .join(broadcast(aSide), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .select(col("a"), col("b"),
        round(col("inter").cast(DoubleType) / least(col("sza"), col("szb")), 4).as("cont"),
        (col("b") >= QuoteIdOffset).as("is_quote"))
      .filter(col("cont") >= minC)
  }

  // ---------------- MinHash + LSH ----------------

  /** 96 permutations, 32 bands × 3 rows: detection probability at j=0.8 is
    * 1-(1-0.8^3)^32 ≈ 1-1e-10 — effectively perfect recall at the 0.8
    * threshold, so LSH + exact verification reproduces the exact all-pairs
    * result (which is how the oracle checks it). */
  val NumHashes = 96
  val Bands = 32
  val RowsPerBand: Int = NumHashes / Bands
  private val MersennePrime = 2147483647L // 2^31 - 1
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1)),
      Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature columns m0..m95 (NumHashes) plus the shingle-set size
    * `sz`, in ONE aggregation — signatures and sizes share the same
    * `groupBy(doc_id)` shuffle, so fusing them saves a full scan of the
    * shingle set (the heaviest input at scale). Arithmetic stays within a
    * 31-bit domain so ANSI mode can't overflow: h31 = xxhash64(shingle) mod
    * p, m_i = min((a_i * h31 + b_i) mod p). Accepts a precomputed shingle
    * DF. */
  def signatures(shingleDf: DataFrame): DataFrame = {
    val sh = shingleDf.withColumn("h31", pmod(xxhash64(col("shingle")), lit(MersennePrime)))
    val mins: Seq[Column] = (0 until NumHashes).map { i =>
      min(pmod(lit(hashA(i)) * col("h31") + lit(hashB(i)), lit(MersennePrime))).as(s"m$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail :+ count(lit(1)).as("sz"): _*)
  }

  /** (doc_id, band, band_hash) — the LSH bucket table. */
  def bands(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols :+ (lit(b): Column): _*).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("s"))
      .select(col("doc_id"), col("s.band").as("band"), col("s.bh").as("bh"))
  }

  /** Candidate pairs from a signature(+sz) DF: distinct same-bucket doc
    * pairs. */
  def candidatePairsFromSignatures(sig: DataFrame): DataFrame = {
    val bd = bands(sig)
    bd.as("x").join(bd.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Candidate pairs = distinct same-bucket doc pairs (input: shingle DF). */
  def candidatePairs(shingleDf: DataFrame): DataFrame =
    candidatePairsFromSignatures(signatures(shingleDf))

  /** [[signatures]] with the collected shingle set folded into the SAME
    * `groupBy(doc_id)` — signatures, sizes, and verification sets all come
    * out of ONE pass over the shingle relation (the heaviest input at
    * corpus scale). Kept separate from [[signatures]] so the bands-only
    * path never shuffles the shingle arrays. */
  private[ops] def signaturesWithSets(shingleDf: DataFrame): DataFrame = {
    val sh = shingleDf.withColumn("h31", pmod(xxhash64(col("shingle")), lit(MersennePrime)))
    val mins: Seq[Column] = (0 until NumHashes).map { i =>
      min(pmod(lit(hashA(i)) * col("h31") + lit(hashB(i)), lit(MersennePrime))).as(s"m$i")
    }
    sh.groupBy(col("doc_id")).agg(mins.head,
      mins.tail ++ Seq(count(lit(1)).as("sz"), collect_list(col("shingle")).as("shs")): _*)
  }

  /** MinHash-LSH near-dup pairs with exact Jaccard verification on the
    * candidates only. Output ≡ [[ngramJaccardPairs]] given the recall
    * analysis above, at a fraction of the join cost.
    *
    * The shingle pipeline (explode + per-doc distinct — the heaviest scan
    * and shuffle of the op) runs exactly ONCE: signatures, set sizes, and
    * the verification shingle arrays are produced by one fused aggregation
    * ([[signaturesWithSets]]), materialized eagerly ([[Tables.materialize]]
    * — a RELIABLE checkpoint when a checkpoint dir is configured, else
    * executor-local blocks, fine for bench runs but lost with an executor)
    * so its two consumers — band bucketing and candidate verification —
    * reuse the doc-grain rows instead of re-running the shingle pipeline
    * each. Local blocks are reclaimed by the ContextCleaner once the result
    * is unreachable, keeping the API leak-free without a session-lifetime
    * persist. Verification intersects candidates row-locally
    * (`array_intersect`) — one Exchange where re-exploding would pay
    * three. */
  def minhashPairs(docs: DataFrame, minJ: Double): DataFrame =
    minhashPairsFrom(materialize(signaturesWithSets(shingles(docs))), minJ)

  /** [[minhashPairs]] served from THE at-rest corpus MinHash artifact
    * ([[signaturesAtRest]] — ingest-path work, the d17/d21 posture): the
    * first toucher in the JVM fits and dumps the signatures (one corpus
    * scan), after which pair serving is bands + candidate join + exact
    * verify over the parquet — the shingle pipeline never re-runs per
    * query. No [[Tables.materialize]] around the input: each consumer is
    * a plain column-pruned scan of the signature parquet (the d21
    * "plain parquet scan per consumer" rule — checkpointing a relation
    * that is already at rest would only copy it). */
  def minhashPairsAtRest(spark: SparkSession, dir: String, minJ: Double): DataFrame =
    minhashPairsFrom(sigSetsAtRest(spark, dir), minJ)

  /** The full-form at-rest signature relation (doc_id, m0..m95, sz, shs)
    * for `dir` — see [[sigReg]]. */
  private[ops] def sigSetsAtRest(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, signaturesAtRest(spark, dir)._1)

  /** [[minhashPairs]] over an ALREADY-materialized fused signature
    * relation — the seam d17 uses to compute pairs AND dump the signature
    * artifact from ONE shingle pipeline instead of two. */
  private[ops] def minhashPairsFrom(sigSets: DataFrame, minJ: Double): DataFrame = {
    val cand = candidatePairsFromSignatures(sigSets)
    verifyJaccard(cand, sigSets.select(col("doc_id"), col("shs"), col("sz")), minJ)
  }

  // ---------------- duplicate clustering (connected components) ----------------

  /** Connected components over an undirected pair list (columns `a`, `b`):
    * one row per vertex, labeled with the smallest doc_id reachable from it
    * — the canonical representative of its duplicate cluster. This is the
    * step every dedup pipeline needs after pair generation: near-dup PAIRS
    * are not deduplicable directly (transitive groups must collapse to one
    * keeper).
    *
    * Algorithm: hash-min label propagation with pointer jumping. Each round
    * does (1) neighbor propagation — every vertex takes the min label over
    * itself and its neighbors (one join + one re-aggregate, i.e. one
    * shuffle of label-grain rows), and (2) pointer jumping — every vertex
    * replaces its label `l` by `label(l)` (labels are always vertex ids, so
    * one more label-grain join). Neighbor-min alone needs `diameter`
    * rounds; the jump step halves the remaining pointer depth each round,
    * giving O(log diameter) — duplicate clusters are near-cliques in
    * practice, so 2-3 rounds is typical, while a worst-case path graph
    * still converges in logarithmic rounds.
    *
    * Scale shape: per round everything is an equi-join + min-aggregate on
    * (vertex, label) long pairs — never the documents, never the shingle
    * sets. Labels strictly decrease until fixpoint, so convergence is
    * detected by an exact decimal checksum (`sum(lbl)` in Decimal(38,0) —
    * overflow-proof under ANSI mode) going flat. Each round's result is
    * materialized eagerly per round ([[Tables.materialize]]: reliable
    * checkpoint when a checkpoint dir is configured — the production
    * setting, since executor loss mid-iteration is otherwise fatal to
    * local blocks — else executor-local): the iteration executes eagerly
    * (like an MLlib `fit`), lineage stays O(1), and locally-checkpointed
    * blocks are reclaimed by the ContextCleaner when the result is
    * garbage-collected. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // The pair list is materialized FIRST: the edge union below consumes it
    // four times, and under AQE each consumer would otherwise re-execute the
    // caller's whole pair-generation pipeline (for dupClusters: the LSH
    // candidate join + verification, 4x). Pairs are two longs per row —
    // the cheapest possible checkpoint.
    val pr = materialize(pairs.select(col("a"), col("b")))
    // Symmetric edges PLUS a self-loop per vertex: neighbor-min over this
    // list already includes the vertex's own label, so each round is a pure
    // join+aggregate with no union in the loop (unions whose children share
    // a lineage leaf trip Catalyst's Union constraint rewrite).
    val edges = pr.select(col("a").as("u"), col("b").as("v"))
      .union(pr.select(col("b").as("u"), col("a").as("v")))
      .union(pr.select(col("a").as("u"), col("a").as("v")))
      .union(pr.select(col("b").as("u"), col("b").as("v")))
      .distinct()
      .transform(materialize)
    def checksum(l: DataFrame): java.math.BigDecimal =
      l.agg(coalesce(sum(col("lbl").cast(DecimalType(38, 0))), lit(java.math.BigDecimal.ZERO))
        .as("s")).head.getDecimal(0)
    // The convergence checksum rides the materialize action itself via
    // `Dataset.observe` (r13 opt): CollectMetrics computes the exact
    // decimal label sum WHILE the round's eager checkpoint job runs, so
    // each round costs ONE driver action where it used to cost two (and
    // the initial labeling likewise) — per-round work on the label-grain
    // rows is unchanged. Metric delivery is asynchronous (listener bus),
    // so a short bounded wait guards the fast path and an explicit
    // aggregate over the ALREADY-CHECKPOINTED rows is the fallback —
    // convergence detection can never hang or change.
    // Returns (materialized labels, checksum, checksumIsObserved).
    // Observed metrics are accumulator-based and NOT exactly-once — a
    // retried or speculatively re-executed task double-counts its rows
    // into the sum — so an observed checksum is trusted only as a fast
    // path for NON-convergence (below); convergence is always confirmed
    // with the exact aggregate. The bounded wait polls `getOrEmpty`
    // (non-blocking) instead of parking a Future on the global pool: the
    // old Await-with-timeout abandoned a thread blocked in `obs.get`
    // forever on every timed-out round (ADVICE r13).
    def materializeChecked(df: DataFrame): (DataFrame, java.math.BigDecimal, Boolean) = {
      val obs = org.apache.spark.sql.Observation()
      val m = materialize(df.observe(obs,
        coalesce(sum(col("lbl").cast(DecimalType(38, 0))),
          lit(java.math.BigDecimal.ZERO)).as("s")))
      val deadline = System.nanoTime() + 2000000000L // 2 s, metrics land on the listener bus
      var s: Option[java.math.BigDecimal] = None
      var waiting = true
      while (waiting) {
        if (obs.future.isCompleted) {
          s = obs.future.value.flatMap(_.toOption)
            .flatMap(row => Option(row.getAs[java.math.BigDecimal]("s")))
          waiting = false
        } else if (System.nanoTime() > deadline) waiting = false
        else Thread.sleep(5)
      }
      s match {
        case Some(d) => (m, d, true)
        case None => (m, checksum(m), false)
      }
    }
    var (labels, sum0, sum0Obs) = materializeChecked(edges.groupBy(col("u"))
      .agg(min(col("v")).as("lbl"))
      .select(col("u").as("vtx"), col("lbl")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges.join(labels, edges("u") === labels("vtx"))
        .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
        .select(col("v").as("vtx"), col("lbl"))
        .transform(materialize)
      var (jumped, sum1, sum1Obs) = materializeChecked(nbrMin.as("x")
        .join(nbrMin.select(col("vtx").as("jv"), col("lbl").as("jl")).as("j"),
          col("x.lbl") === col("j.jv"), "left")
        .select(col("x.vtx").as("vtx"), least(col("x.lbl"), coalesce(col("j.jl"), col("x.lbl"))).as("lbl")))
      converged = sum1.compareTo(sum0) == 0
      // A polluted observed sum could coincidentally EQUAL the previous
      // round's and falsely declare convergence (silently wrong labels),
      // so observed equality is re-checked with the exact aggregate over
      // the checkpointed rows — one extra action on the final round only;
      // observed INEQUALITY just runs another round, which is always safe
      // (labels are monotone, a true fixpoint re-tests equal next round).
      if (converged && sum1Obs) {
        sum1 = checksum(jumped); sum1Obs = false
        converged = sum1.compareTo(sum0) == 0
      }
      if (converged && sum0Obs) {
        sum0 = checksum(labels)
        converged = sum1.compareTo(sum0) == 0
      }
      sum0 = sum1
      sum0Obs = sum1Obs
      labels = jumped
      round += 1
    }
    labels.select(col("vtx").as("doc_id"), col("lbl").as("cluster"))
  }

  /** Duplicate clusters of the MinHash near-dup graph: every document that
    * has at least one near-duplicate (Jaccard ≥ `minJ`), labeled with its
    * cluster's canonical (minimum) doc_id. `keep = (cluster == doc_id)`
    * selects one survivor per cluster downstream. */
  def dupClusters(docs: DataFrame, minJ: Double, maxRounds: Int = 20,
      pairs: Option[DataFrame] = None): DataFrame =
    connectedComponents(
      pairs.getOrElse(minhashPairs(docs, minJ)).select(col("a"), col("b")), maxRounds)

  // ---------------- span-level exact dedup ----------------

  /** Cross-document SPAN dedup — the paragraph/line-grain pass of a corpus
    * pipeline, run at fixed token-block granularity: the text is cut into
    * `blockTokens`-token blocks and every block that exactly repeats an
    * earlier occurrence (corpus order = (doc_id, block index)) is dropped;
    * each document is reassembled from its surviving blocks. This is the
    * distributed form of exact-substring dedup (the suffix-array
    * formulation is a single-machine structure; block hashing keeps the
    * operation join/aggregate-shaped at any corpus size — production block
    * size is ~50 tokens, the gate uses a small block so the synthetic
    * corpus actually collides).
    *
    * Scale shape: one explode to block grain, ONE shuffle of the block
    * text (the first-occurrence window, keyed on md5(block) so key
    * comparison is 16 bytes regardless of block length), one doc-keyed
    * aggregation to reassemble — a linear pipeline with a single consumer
    * at every stage, so nothing needs materializing. Documents that lose
    * every block surface with empty `text_dedup`, never disappear. */
  def spanDedup(docs: DataFrame, blockTokens: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blocks = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(toks) / $blockTokens.0) as int) - 1),
           |          b -> array_join(slice(toks, b * $blockTokens + 1, $blockTokens), ' '))""".stripMargin)))
      .toDF("doc_id", "idx", "block")
      .withColumn("idx", col("idx").cast(LongType))
    val firstWins = Window.partitionBy(md5(col("block"))).orderBy(col("doc_id"), col("idx"))
    blocks
      .withColumn("keep", row_number().over(firstWins) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(IF(keep, struct(idx, block), NULL))), s -> s.block)"),
          " ").as("text_dedup"))
  }

  /** DuckDB oracle twin of [[spanDedup]]: same block slicing (1-based
    * inclusive list slices ≡ Spark `slice`), same md5-keyed first-occurrence
    * window, same in-order reassembly (`string_agg ... ORDER BY idx` skips
    * the NULLed dropped blocks exactly like Spark's `collect_list`). */
  def spanDedupOracleSql(blockTokens: Int = 3): String =
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       | b AS (SELECT doc_id, u.idx AS idx, u.block AS block FROM (
       |    SELECT doc_id, unnest([{'idx': i, 'block': array_to_string(t[i*$blockTokens+1:i*$blockTokens+$blockTokens], ' ')}
       |                           FOR i IN range(0, CAST(ceil(len(t) / $blockTokens.0) AS BIGINT))]) AS u
       |    FROM base) s),
       | k AS (SELECT doc_id, idx, block,
       |        row_number() OVER (PARTITION BY md5(block) ORDER BY doc_id, idx) = 1 AS keep
       |       FROM b)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       coalesce(string_agg(CASE WHEN keep THEN block END, ' ' ORDER BY idx), '') AS text_dedup
       |FROM k GROUP BY doc_id""".stripMargin

  // ---------------- SimHash ----------------

  /** Cross-engine 60-bit shingle hash: the first 15 hex chars of md5,
    * parsed as an integer. Chosen over xxhash64 (Spark-only) so the whole
    * simhash is reproducible in any SQL engine and sits under the DuckDB
    * oracle; 15 hex digits keep the value inside a signed 64-bit range in
    * both engines. Bits 60-63 of the hash are always 0, so those counters
    * only ever see −1 and emit 0 — a 60-bit fingerprint in a 64-char
    * frame, identical on both sides. */
  private[ops] def shingleHash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** SimHash per document as a bit string (MSB first): bit j is set
    * when the sum over shingles of ±1 (sign from bit j of the shingle hash)
    * is positive. Near-dups differ in few bits (small Hamming distance).
    * Uses the native [[graft.functions.SimhashAgg]] TypedImperativeAggregate
    * — one 256-byte buffer per group with map-side combine, instead of 64
    * shuffled sum columns. */
  def simhash(docs: DataFrame): DataFrame = {
    import graft.functions.SimhashAgg.simhash_agg
    shingles(docs).withColumn("h", shingleHash64(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(simhash_agg(col("h")).as("simhash"))
  }

  /** The (doc_id, shingle) relation reconstructed from the at-rest
    * signature artifact's shingle sets (r13 opt) — row-identical to
    * [[shingles]] over the same corpus (`shs` IS the collected distinct
    * shingle set; docs under 3 tokens are absent from both), so the d4
    * fingerprint fit and the d18 calibration read shingles at rest
    * instead of re-running the tokenize → explode → distinct pipeline
    * per query. */
  private[ops] def shinglesAtRest(spark: SparkSession, dir: String): DataFrame =
    sigSetsAtRest(spark, dir)
      .select(col("doc_id"), explode(col("shs")).as("shingle"))

  /** [[simhash]] served from the at-rest shingle sets. No doc_id filter —
    * the replaced simhash → shingles path never had one, so a null-doc_id
    * fingerprint group (absent from the gate fixtures, but reachable on a
    * corpus with null ids) is kept exactly as before (ADVICE r13: the
    * filter belongs to the d18 path only, which always had it). */
  def simhashAtRest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimhashAgg.simhash_agg
    shinglesAtRest(spark, dir).withColumn("h", shingleHash64(col("shingle")))
      .groupBy(col("doc_id"))
      .agg(simhash_agg(col("h")).as("simhash"))
  }

  /** Per-doc simhash as FOUR 16-bit band values (band b = bits
    * [16b, 16b+15] of the d4 fingerprint) — the representation simhash
    * BLOCKING needs: by pigeonhole, two fingerprints within Hamming
    * distance 3 agree on at least one of the four bands, so same-band
    * equality is a COMPLETE candidate generator for τ ≤ 3. */
  private[ops] def simhashBands(docs: DataFrame): DataFrame =
    simhashBandsFrom(shingles(docs))

  private[ops] def simhashBandsFrom(shingleDf: DataFrame): DataFrame = {
    val sh = shingleDf.withColumn("h", shingleHash64(col("shingle")))
    val bitSums: Seq[Column] = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$j")
    }
    val bandCols: Seq[Column] = (0 until 4).map { b =>
      (16 * b until 16 * b + 16).map(j =>
        when(col(s"s$j") > 0, lit(1L << (j - 16 * b))).otherwise(lit(0L)))
        .reduce(_ + _).as(s"band$b")
    }
    sh.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id") +: bandCols: _*)
  }

  /** SimHash dedup CALIBRATION (d18) — the s11-style acceptance eval for
    * the d4 fingerprint: candidate pairs from 4×16-bit BAND BLOCKING (by
    * pigeonhole, Hamming ≤ 3 ⇒ at least one band equal — so blocking is
    * provably COMPLETE for every threshold τ ≤ 3, never a recall guess),
    * verified by exact XOR+popcount Hamming, then scored against the
    * exact n-gram Jaccard ≥ 0.8 relation (d2) per threshold τ ∈ 0..3:
    * predicted pairs, hits, precision, recall. This table is what decides
    * whether the 8-byte fingerprint can replace MinHash for a corpus — and
    * at which τ.
    *
    * Scale shape: the LSH-bands principle applied to simhash — candidates
    * come from four band-keyed equi-joins (the exploded (band_idx, value)
    * self-join), never all-pairs; Hamming verification is row-local
    * bit_count; the eval folds are pair-grain counts over the tiny
    * candidate and exact relations. */
  def simhashEval(docs: DataFrame, truth: Option[DataFrame] = None): DataFrame = {
    // ONE shingle pipeline (scan + explode + distinct shuffle) feeds both
    // the fingerprint fits and — when no at-rest `truth` relation is
    // supplied ([[nearDupPairsAtRest]]) — the exact ground-truth pairs
    val sh = Tables.materialize(shingles(docs).filter(col("doc_id").isNotNull))
    simhashEvalFrom(sh, truth)
  }

  /** [[simhashEval]] with the shingle relation read from the at-rest
    * signature artifact and the ground truth from the at-rest pair
    * registry (r13 opt): a warmed calibration run touches no corpus text
    * at all — the d21 posture for the simhash fingerprint. */
  def simhashEvalAtRest(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame =
    simhashEvalFrom(shinglesAtRest(spark, dir).filter(col("doc_id").isNotNull),
      Some(nearDupPairsAtRest(spark, dir, minJ)))

  private def simhashEvalFrom(sh: DataFrame, truth: Option[DataFrame]): DataFrame = {
    val bands = Tables.materialize(simhashBandsFrom(sh))
    val br = bands.select(col("doc_id"), explode(expr(
      "array(struct(0 AS bi, band0 AS bv), struct(1 AS bi, band1 AS bv), " +
        "struct(2 AS bi, band2 AS bv), struct(3 AS bi, band3 AS bv))")).as("s"))
      .select(col("doc_id"), col("s.bi").as("bi"), col("s.bv").as("bv"))
    val cand = br.as("x").join(br.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val ham = cand
      .join(bands.select(col("doc_id").as("a"), col("band0").as("xa0"),
        col("band1").as("xa1"), col("band2").as("xa2"), col("band3").as("xa3")), Seq("a"))
      .join(bands.select(col("doc_id").as("b"), col("band0").as("xb0"),
        col("band1").as("xb1"), col("band2").as("xb2"), col("band3").as("xb3")), Seq("b"))
      .select(col("a"), col("b"), expr(
        "bit_count(xa0 ^ xb0) + bit_count(xa1 ^ xb1) + bit_count(xa2 ^ xb2) + bit_count(xa3 ^ xb3)")
        .cast(LongType).as("hd"))
    val exact = truth.getOrElse(ngramJaccardPairsFrom(sh, 0.8))
      .select(col("a"), col("b"), lit(1L).as("ex"))
    val nExact = exact.count()
    val taus = broadcast(sh.sparkSession.range(0, 4).select(col("id").as("tau")))
    val pred = ham.join(taus, col("hd") <= col("tau"))
      .join(exact, Seq("a", "b"), "left_outer")
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_pred"), sum(coalesce(col("ex"), lit(0L))).as("n_hit"))
    taus.join(pred, Seq("tau"), "left_outer")
      .select(col("tau"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        lit(nExact).as("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_pred"), lit(0L)) > 0,
          round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / coalesce(col("n_pred"), lit(0L)), 4))
          .otherwise(lit(0.0)).as("precision"),
        round(coalesce(col("n_hit"), lit(0L)).cast(DoubleType) / nExact, 4).as("recall"))
  }

  // ---------------- incremental dedup (delta vs corpus-at-rest) ----------------

  /** Every 10th document plays the "newly arrived shard"; the rest are the
    * standing corpus whose hash index lives at rest. */
  val DeltaMod = 10

  /** Per-JVM registry of materialized corpus hash indexes (input dir →
    * parquet path), the codes-at-rest pattern: at 100 TB the content-hash
    * index is maintained BY THE INGEST PATH (appended as shards land,
    * bucketed by hash) — no query ever re-hashes the standing corpus. */
  private[graft] val hashIndexReg =
    graft.core.AtRestRegistry[String]("dedup.d7_hashidx", arity = 1)

  /** Per-JVM registry of the VERIFIED near-dup pair relation (a, b, jac)
    * per (input dir, minJ) — the [[hashIndexReg]] codes-at-rest pattern
    * applied to the calibration family's ground truth. At 100 TB this
    * relation is a maintained ARTIFACT of the dedup pass itself (it is
    * exactly d2/d3's output, kept current by d7/d8/d20 as shards land);
    * no downstream report or calibration query re-derives it from text.
    * Before this registry the suite re-paid the full shingle pipeline in
    * FIVE consumers per run (d10, d18, d21, c16, c28 — r10's entire top
    * cost tail); now the first toucher builds it with the exact PPJoin
    * ([[ngramJaccardPairs]] — so the gate still executes the prefix-filter
    * algorithm every round) and everyone else reads parquet. */
  private[graft] val pairReg =
    graft.core.AtRestRegistry[String]("dedup.dup_pairs", arity = 2)

  /** The at-rest ground-truth near-dup relation for the corpus at `dir`:
    * all pairs with 3-gram-shingle Jaccard ≥ `minJ`, columns (a, b, jac).
    * Built once per (dir, minJ) per JVM by the exact prefix-filtered
    * self-join; identical to [[minhashPairs]]' output (recall 1 at these
    * settings — pinned by ExtensionOpsSpec and gated by d2/d3 sharing one
    * oracle), so consumers of either formulation read it
    * interchangeably. */
  /** Test seam: clear the registry so a spec can observe the
    * build-vs-warmed scan counts deterministically (PlanShapeSpec d2). */
  private[graft] def resetPairRegistryForTests(): Unit = pairReg.reset()

  def nearDupPairsAtRest(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame = {
    val path = pairReg.getOrBuild(dir, minJ) {
      val p = pairReg.pathFor(Similarity.OracleDumpRoot, "dup_pairs", dir, minJ)
      ngramJaccardPairs(t(spark, dir, "documents"), minJ).write.mode("overwrite").parquet(p)
      p
    }
    Tables.parquet(spark, path)
  }

  /** Inter-source duplication matrix — the curation report that drives
    * source weighting: for every (source, source) pair, how many near-dup
    * document pairs straddle it and their total similarity mass. Built on
    * [[ngramJaccardPairs]] (or the at-rest relation when `pairs` is
    * given — [[nearDupPairsAtRest]], the production shape); the pair
    * relation is tiny relative to the
    * corpus, so the source attachment joins broadcast the slim (id, source)
    * projection against it and the final matrix is a constant-size
    * aggregate (|sources|² at most). The similarity mass sums the
    * 4-decimal jaccards as exact decimals, so the total is
    * order-insensitive cross-engine. */
  def dupSourceMatrix(docs: DataFrame, minJ: Double,
      pairs: Option[DataFrame] = None): DataFrame = {
    // materialized: BOTH attach sides consume it, and AQE's runtime stage
    // matching does not fire across the a/b aliasing (the r4 finding) —
    // unmaterialized, the thin projection scanned the corpus twice
    val src = materialize(docs.select(col("doc_id"), col("source")))
    pairs.getOrElse(ngramJaccardPairs(docs, minJ))
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
      .groupBy(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .agg(count(lit(1)).as("n_pairs"), outd(dsum(col("jac")), 4).as("sum_jac"))
  }

  private def corpusHashIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = hashIndexReg.getOrBuild(dir) {
      val p = hashIndexReg.pathFor(Similarity.OracleDumpRoot, "d7_hashidx", dir)
      t(spark, dir, "documents").filter(pmod(col("doc_id"), lit(DeltaMod)) =!= 0)
        .select(md5(col("text")).as("h")).distinct()
        .write.mode("overwrite").parquet(p)
      p
    }
    Tables.parquet(spark, path)
  }

  /** Incremental exact dedup — THE dedup shape a standing 100 TB pipeline
    * actually runs: a new shard (the delta) is deduplicated within itself
    * (keep the smallest doc_id per hash) and then anti-joined against the
    * corpus hash index AT REST ([[corpusHashIndex]]). The standing corpus
    * is never re-scanned, never re-hashed: the query touches delta text +
    * index hashes only, so per-shard cost is O(delta + index-probe), not
    * O(corpus) — d1 is the bootstrap that builds the index, this is every
    * day after. The anti-join shuffles both sides by `h`; in production
    * the index is bucketed on `h` so only the (small) delta moves. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val delta = t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(DeltaMod)) === 0)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val keep = delta.groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_delta_dups"))
    keep.join(corpusHashIndex(spark, dir), Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"), col("n_delta_dups"))
  }

  /** DuckDB oracle twin of [[incrementalDedup]] — same split, same
    * keep-smallest rule, same anti-join. */
  def incrementalDedupOracleSql: String =
    s"""WITH delta AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % $DeltaMod = 0),
       | corpus AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % $DeltaMod <> 0),
       | keep AS (SELECT h, min(doc_id) AS doc_id, count(*) AS n_delta_dups
       |          FROM delta GROUP BY h)
       |SELECT k.doc_id, k.h, k.n_delta_dups
       |FROM keep k WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = k.h)""".stripMargin

  /** Per-JVM registry of the at-rest corpus LSH index: (band-bucket table,
    * verification-set table) parquet paths per input dir. At 100 TB both
    * live next to the corpus, appended by the ingest path — the near-dup
    * counterpart of [[corpusHashIndex]]. */
  private[graft] val lshIndexReg =
    graft.core.AtRestRegistry[(String, String)]("dedup.d8_lshidx", arity = 1)

  private[graft] def corpusLshIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (bp, sp) = lshIndexReg.getOrBuild(dir) {
      val bPath = lshIndexReg.pathFor(Similarity.OracleDumpRoot, "d8_bands", dir)
      val sPath = lshIndexReg.pathFor(Similarity.OracleDumpRoot, "d8_sets", dir)
      // derived from THE at-rest corpus MinHash artifact (r13 opt): the
      // cold build was the only remaining place the corpus shingle
      // pipeline re-ran after the sigReg promotion — banding + the set
      // projection are narrow column-pruned passes over the signature
      // parquet (identical numbers: same signatures, same band hashes)
      val sigSets = sigSetsAtRest(spark, dir)
        .filter(pmod(col("doc_id"), lit(DeltaMod)) =!= 0)
      bands(sigSets).write.mode("overwrite").parquet(bPath)
      sigSets.select(col("doc_id"), col("shs"), col("sz"))
        .write.mode("overwrite").parquet(sPath)
      (bPath, sPath)
    }
    (Tables.parquet(spark, bp), Tables.parquet(spark, sp))
  }

  /** Incremental NEAR-dup (d8): the delta shard's MinHash bands probe the
    * corpus LSH index AT REST, candidates verify with exact Jaccard against
    * the at-rest shingle sets — [[incrementalDedup]]'s shape lifted from
    * exact to near-duplicate. Only the delta is ever shingled or signed at
    * query time; per-shard cost is O(delta + bucket collisions), never
    * O(corpus). Same signature scheme as [[minhashPairs]], so the ≈1 recall
    * argument at j≥0.8 carries over and the oracle is the EXACT delta ×
    * corpus Jaccard pair set. */
  def incrementalNearDup(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame = {
    val (cBands, cSets) = corpusLshIndex(spark, dir)
    // delta signatures from the SAME at-rest artifact, doc_id-filtered
    // (r13 opt): identical numbers (one pipeline wrote them), and d8/d20
    // stop paying a delta shingle pipeline + checkpoint per run — at
    // 100 TB the delta's signatures arrive WITH the shard (the ingest
    // path signs what it lands), so serving reads them at rest too
    val dSigSets = sigSetsAtRest(spark, dir)
      .filter(pmod(col("doc_id"), lit(DeltaMod)) === 0)
    val cand = bands(dSigSets).as("x")
      .join(cBands.as("y"), col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("delta_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    verifyJaccard2(cand, dSigSets, cSets, minJ, "delta_id", "corpus_id")
  }

  /** Row-local twin of [[shingles]]→[[signatures]]→[[bands]] for STREAMING
    * micro-batches, where each input row carries a whole document: distinct
    * shingles, the 96 MinHash mins, and the 32 band hashes all compute
    * INSIDE the row, so signing a stream needs no stateful shuffle at all.
    * (`array_distinct`'s quadratic nested loop — see [[shingles]] — is the
    * right trade here: it buys state-freedom, not just a saved exchange,
    * and a document's shingle set is tens of elements.) Same hash constants
    * and arithmetic as the batch pipeline, so streamed bands probe the SAME
    * at-rest index — bit-equality is spec-asserted. Keeps every input
    * column (e.g. the event-time column a downstream watermark needs) and
    * appends `shs`, `sz`, `bands`.
    *
    * The typed-map BARRIER between the shingle/hash prologue and the 96
    * min columns is load-bearing: without it CollapseProject inlines the
    * whole tokenize→distinct-shingle→hash subtree into EVERY min (and
    * transitively every band hash) — a ~100× expression-tree blowup whose
    * optimize+codegen cost dominated the query at 80-180 s per run at
    * sf0.1 (measured; the barrier returns it to data cost). The batch
    * pipeline never hits this because its mins are aggregate functions
    * over exploded rows, not projected copies of the prologue. */
  private[graft] def rowLocalSigSets(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("toks", split(col("text"), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("shs", array_distinct(
        expr("transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))")))
      .withColumn("h31s", expr(s"transform(shs, s -> pmod(xxhash64(s), ${MersennePrime}L))"))
      .drop("toks")
    val barrier = base.map(identity(_))(org.apache.spark.sql.Encoders.row(base.schema))
    val minCols = (0 until NumHashes).map { i =>
      expr(s"array_min(transform(h31s, h -> pmod(${hashA(i)}L * h + ${hashB(i)}L, ${MersennePrime}L)))")
        .as(s"m$i")
    }
    val withM = barrier.select(barrier.columns.map(col).toSeq ++ minCols: _*)
    val bandStructs = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"m${b * RowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols :+ (lit(b): Column): _*).as("bh"))
    }
    withM.select(docs.columns.map(col).toSeq :+ col("shs") :+
      size(col("shs")).cast(LongType).as("sz") :+ array(bandStructs: _*).as("bands"): _*)
  }

  /** The 64-column formulation of [[simhash]], kept as the differential
    * test twin for the native aggregate (DedupSpec asserts equality). */
  private[ops] def simhashColumns(docs: DataFrame): DataFrame = {
    val sh = shingles(docs).withColumn("h", shingleHash64(col("shingle")))
    val bitSums: Seq[Column] = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$j")
    }
    sh.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((63 to 0 by -1).map(j => when(col(s"s$j") > 0, lit("1")).otherwise(lit("0"))): _*)
          .as("simhash"))
  }

  /** Cross-corpus LINE deduplication (d12) — the C4 cleanup rule (Raffel
    * et al. 2020): a line occurring more than once in the corpus survives
    * only at its FIRST occurrence (smallest (doc_id, position)); all other
    * occurrences are cut and each document reassembles from its surviving
    * lines in order. d6's span dedup cuts fixed token BLOCKS; this cuts
    * CONTENT-delimited units — the form the C4 pipeline actually ran.
    * Line structure is synthesized deterministically
    * ([[graft.ops.TextOps.withSyntheticLines]], the t16 device — the
    * synthetic corpus is single-line).
    *
    * Scale shape: ONE md5(line)-keyed exchange decides winners (a min-
    * struct aggregation, not a corpus-wide window), one doc-keyed fold
    * reassembles; the line relation is materialized once and feeds the
    * winner fit, both join sides and the per-doc line counts. Output: per
    * document, lines before/after and the md5 of the reassembled text —
    * a hash-gate-friendly proof of exact reassembly. */
  def lineDedup(docs: DataFrame): DataFrame = {
    val lined = TextOps.withSyntheticLines(docs)
    val lines = materialize(
      lined.select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("pos", "line")))
        .withColumn("h", md5(col("line"))))
    val firsts = lines.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("h"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    val kept = lines.join(firsts, Seq("h"))
      .filter(col("doc_id") === col("fdoc") && col("pos") === col("fpos"))
    val re = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws("\n",
          transform(sort_array(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")))).as("kept_md5"))
    lines.groupBy(col("doc_id")).agg(count(lit(1)).as("n_lines"))
      .join(re, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle twin of [[lineDedup]]: the shared t16 line-injection
    * replay, first-occurrence winners via the same (doc_id, pos) order,
    * the same ordered reassembly hash. */
  def lineDedupOracleSql: String =
    s"""WITH ${TextOps.syntheticLinesCtes},
       | lraw AS (SELECT doc_id,
       |   unnest([{'pos': j, 'line': ls[j+1]} FOR j IN range(0, len(ls))]) AS u FROM inj),
       | lh AS (SELECT doc_id, u.pos AS pos, u.line AS line, md5(u.line) AS h FROM lraw),
       | firsts AS (SELECT h, doc_id AS fdoc, pos AS fpos FROM (
       |    SELECT h, doc_id, pos,
       |           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
       |    FROM lh) x WHERE rn = 1),
       | kept AS (SELECT l.doc_id, l.pos, l.line
       |          FROM lh l JOIN firsts f ON f.h = l.h AND l.doc_id = f.fdoc AND l.pos = f.fpos),
       | re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |         md5(string_agg(line, chr(10) ORDER BY pos)) AS kept_md5
       |        FROM kept GROUP BY doc_id),
       | nl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM lh GROUP BY doc_id)
       |SELECT n.doc_id, n.n_lines, coalesce(r.n_kept, 0) AS n_kept,
       |       coalesce(r.kept_md5, md5('')) AS kept_md5
       |FROM nl n LEFT JOIN re r ON r.doc_id = n.doc_id""".stripMargin

  /** PageRank over the near-duplicate pair graph (d11) — duplicate-graph
    * centrality: within a duplicate cluster the highest-PR member is the
    * natural CANONICAL choice (the variant most other variants are close
    * to), a strictly better keeper rule than d5's min-id convention when
    * clusters mix a master document with derived fragments.
    *
    * Scale shape: power iteration at LABEL grain — the graph is the
    * O(pairs) near-dup relation (built by the LSH path, never all-pairs),
    * and each of the `iters` rounds is ONE join + ONE map-side-combined
    * aggregation over (node, pr) rows; each round's pr relation is
    * materialized, so plan depth stays constant and a failed executor
    * re-reads blocks instead of recomputing the whole chain.
    *
    * Cross-engine: per-edge contributions `pr(u)/deg(u)` round to
    * DECIMAL(18,8) before the order-insensitive sum (t12's discipline),
    * so both engines iterate on bit-identical doubles; damping constants
    * are interpolated as exact doubles into the oracle. */
  def pageRank(docs: DataFrame, minJ: Double, iters: Int = 10,
      damp: Double = 0.85, pairRel: Option[DataFrame] = None): DataFrame = {
    val pairs = pairRel.getOrElse(minhashPairs(docs, minJ)).select(col("a"), col("b"))
    val edges = materialize(pairs.union(pairs.select(col("b").as("a"), col("a").as("b"))))
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val edgesD = materialize(edges.join(deg, Seq("a")))
    val n = edgesD.select(col("a")).distinct().count()
    var pr = materialize(edgesD.select(col("a").as("node")).distinct()
      .select(col("node"), lit(1.0 / n).as("pr")))
    var i = 0
    while (i < iters) {
      val next = edgesD.join(pr, edgesD("a") === pr("node"))
        .select(col("b"), (col("pr") / col("deg")).cast(DecimalType(18, 8)).as("c"))
        .groupBy(col("b"))
        .agg(sum(col("c")).as("cs"))
        .select(col("b").as("node"),
          (lit((1 - damp) / n) + lit(damp) * col("cs").cast(DoubleType)).as("pr"))
      // one materialization per round: bounded plan depth, and on a real
      // cluster each round's blocks are the failure-recovery point (a
      // every-3rd-round variant measured SLOWER at bench scale — the
      // un-checkpointed rounds nest into bigger plans whose optimize +
      // codegen cost exceeds the checkpoint saved)
      pr = materialize(next)
      i += 1
    }
    pr.select(col("node").as("doc_id"), round(col("pr"), 6).as("pr"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered incremental exact dedup (d14) — [[incrementalDedup]]
    * re-planned for append-mostly pipelines where the overwhelming majority
    * of a delta shard is NOT a duplicate: a Bloom filter over the at-rest
    * corpus hash index ([[corpusHashIndex]]) is built distributed
    * (per-partition filters OR-merged — Spark's `stat.bloomFilter` sketch
    * aggregate) and broadcast once; each delta row tests locally.
    * "Definitely absent" rows (a Bloom no is exact) are kept OUTRIGHT —
    * they never enter any corpus-facing join — and only the tiny
    * bloom-positive candidate set (true dups + the fpp false positives)
    * goes through the confirming anti-join. The result is therefore EXACTLY
    * [[incrementalDedup]]'s keep-list, and the oracle is the SAME plain
    * anti-join SQL — like q28's salting, the sketch must be invisible in
    * the answer; only the exchange volume changes (O(dups + fpp·delta)
    * rows instead of O(delta)).
    *
    * Scale honesty: at 1e9 index entries and fpp 1% the filter is ~1.2 GB
    * — broadcastable but chunky; past that, partition the index and run
    * per-range filters, or fall back to [[incrementalDedup]]'s bucketed
    * probe. The sketch build scans hash strings only, never text. */
  def bloomDedup(spark: SparkSession, dir: String, fpp: Double = 0.01): DataFrame = {
    val idx = corpusHashIndex(spark, dir)
    val bf = idx.stat.bloomFilter("h", math.max(idx.count(), 1L), fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((h: String) => bfB.value.mightContainString(h))
    val keep = t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(DeltaMod)) === 0)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_delta_dups"))
    val definiteNew = keep.filter(!mightContain(col("h")))
    val confirmedNew = keep.filter(mightContain(col("h")))
      .join(idx, Seq("h"), "left_anti")
    definiteNew.unionByName(confirmedNew)
      .select(col("doc_id"), col("h"), col("n_delta_dups"))
  }

  /** DuckDB oracle twin of [[bloomDedup]] — identical to
    * [[incrementalDedupOracleSql]] by design: the Bloom split is a pure
    * execution optimization and must not change the answer. */
  def bloomDedupOracleSql: String = incrementalDedupOracleSql

  // ---------------- URL canonicalization dedup (d15) ----------------

  /** The synthesized per-document URL — a pure function of (doc_id,
    * source) the oracle replays: documents share a page key (source,
    * doc_id % 40) but carry one of four SYNTACTIC variants of its URL —
    * canonical, upper-cased scheme+host, trailing slash, and
    * reordered-params + tracking junk — the exact spellings crawl
    * frontiers see for one resource. */
  private[ops] def urlSql: String =
    """CASE CAST(CAST(floor(doc_id / 40) AS BIGINT) % 4 AS INT)
      | WHEN 0 THEN concat('https://', source, '.example.com/p/', doc_id % 40, '?a=1&b=2')
      | WHEN 1 THEN concat('HTTPS://', upper(source), '.EXAMPLE.com/p/', doc_id % 40, '?a=1&b=2')
      | WHEN 2 THEN concat('https://', source, '.example.com/p/', doc_id % 40, '/?a=1&b=2')
      | ELSE concat('https://', source, '.example.com/p/', doc_id % 40,
      |             '?b=2&utm_source=feed&a=1&ref=share')
      |END""".stripMargin.replace("\n", "")

  /** URL canonicalization + dedup (d15) — the step a crawl pipeline runs
    * BEFORE any content dedup: the same resource arrives under many
    * syntactic spellings (case-insensitive scheme/host, trailing slash,
    * tracking parameters, parameter order), and content-hashing each
    * spelling separately wastes a fetch + a near-dup comparison per
    * alias. Canonical form: lowercase scheme+host, path with the trailing
    * slash stripped, query with `utm_*`/`ref` params dropped and the
    * rest SORTED — all row-local string algebra in the Java≡RE2 common
    * subset (no parse_url dependence, so the oracle replays it verbatim).
    * Output is the d1 shape at canonical grain: the four planted variant
    * classes collapse to one key per (source, page), so `n` counts
    * aliases and `n_raw` proves the collapse (raw spellings > 1 where any
    * variant class differs). Whole-stage codegen, one narrow exchange at
    * 16-byte canonical-hash grain. */
  def urlCanonDedup(docs: DataFrame): DataFrame = {
    val withUrl = docs.select(col("doc_id"), expr(urlSql).as("url"))
    val canon = withUrl.select(col("doc_id"), col("url"),
      expr("""concat(
             |  lower(regexp_extract(url, '^([^:]+://[^/]+)', 1)),
             |  regexp_replace(regexp_extract(url, '^[^:]+://[^/]+([^?]*)', 1), '/$', ''),
             |  CASE WHEN array_join(array_sort(filter(split(regexp_extract(url, '\\?(.*)$', 1), '&'),
             |                p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))), '&') = ''
             |       THEN ''
             |       ELSE concat('?', array_join(array_sort(filter(split(regexp_extract(url, '\\?(.*)$', 1), '&'),
             |                p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%'))), '&')) END)""".stripMargin)
        .as("canon"))
    canon.groupBy(md5(col("canon")).as("h"))
      .agg(count(lit(1)).as("n"), count_distinct(col("url")).as("n_raw"),
        min(col("doc_id")).as("keeper"))
  }

  /** DuckDB oracle twin of [[urlCanonDedup]] — same synthesized variants,
    * same canonical algebra, same canonical-hash grain. */
  def urlCanonOracleSql: String =
    s"""WITH u AS (SELECT doc_id, ${urlSql.replace("concat(", "concat(")} AS url FROM documents),
       | c AS (SELECT doc_id, url, concat(
       |         lower(regexp_extract(url, '^([^:]+://[^/]+)', 1)),
       |         regexp_replace(regexp_extract(url, '^[^:]+://[^/]+([^?]*)', 1), '/$$', ''),
       |         CASE WHEN array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\\?(.*)$$', 1), '&'),
       |                       p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=')))), '&') = ''
       |              THEN ''
       |              ELSE concat('?', array_to_string(list_sort(list_filter(string_split(regexp_extract(url, '\\?(.*)$$', 1), '&'),
       |                       p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref=')))), '&')) END) AS canon
       |       FROM u)
       |SELECT md5(canon) AS h, CAST(count(*) AS BIGINT) AS n,
       | CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
       | min(doc_id) AS keeper
       |FROM c GROUP BY 1""".stripMargin

  /** Where the most recent [[bbitEstimates]] call dumped its long-form
    * signature relation — per-dir (the s25/q33 `dirToken` convention). */
  @volatile private[graft] var BbitSigDump: String = ""

  /** b-bit MinHash similarity estimation (d17, Li & König) — the
    * signature-compression step that makes a billion-document similarity
    * index memory-resident: keeping only the lowest b bits of each
    * minhash shrinks the signature 32× (b=2 vs 64-bit values) while the
    * collision-corrected estimator `Ĵ = (E − C)/(1 − C)` (E = observed
    * b-bit match fraction, C = 2⁻ᵇ the accidental-collision floor)
    * remains unbiased for large sets. The report puts, per verified
    * near-dup pair, the EXACT Jaccard (d3's verification) next to the
    * full-minhash estimate and the b-bit estimate — the calibration
    * artifact that justifies (or rejects) deploying the compressed index.
    * Both estimators are exact integer match counts over the dumped
    * signature artifact with one rational division each, so the gate is
    * bit-exact; the signature artifact itself is engine-fitted (xxhash64)
    * and replayed by the oracle from parquet, the centroid-dump pattern.
    *
    * Scale shape: signatures are the d3 fold (one shingle pass); the
    * estimate joins the O(pairs) LSH relation against the hash-grain
    * signature relation twice on (doc, i) — equi-joins whose probe side
    * is pairs·96 rows, a vanishing fraction of the corpus. */
  def bbitEstimates(spark: SparkSession, dir: String, minJ: Double = 0.8,
      b: Int = 2): DataFrame = {
    // the shared at-rest signature artifact feeds pair generation, exact
    // verification AND the b-bit comparison — zero shingle pipelines per
    // warmed run, and the long form IS the oracle's replay input (before
    // r13 this op re-built the pipeline and dumped a duplicate artifact)
    val (fullPath, longPath) = signaturesAtRest(spark, dir)
    BbitSigDump = longPath
    val sigSets = Tables.parquet(spark, fullPath)
    val sigs = Tables.parquet(spark, longPath)
    val mask = (1L << b) - 1
    val denomB = NumHashes * ((1 << b) - 1)
    minhashPairsFrom(sigSets, minJ).select(col("a"), col("b"), col("jac"))
      .join(sigs.select(col("doc_id").as("a"), col("i"), col("m").as("ma")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("i"), col("m").as("mb")), Seq("b", "i"))
      .groupBy(col("a"), col("b"), col("jac"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("n_full"),
        sum(when((col("ma").bitwiseAND(mask)) === (col("mb").bitwiseAND(mask)), 1L)
          .otherwise(0L)).as("n_bbit"))
      .select(col("a"), col("b"), col("jac"),
        round(col("n_full").cast(DoubleType) / NumHashes, 4).as("est_full"),
        round(((lit(1L << b) * col("n_bbit") - NumHashes).cast(DoubleType)) / denomB, 4)
          .as("est_bbit"))
  }

  /** SOFT deduplication weights (d16) — the down-weight-don't-drop
    * alternative to d1/d5 hard removal (the SoftDedup idea: duplicated
    * content carries real signal about importance, so keep every copy but
    * scale its sampling weight by its multiplicity, leaving the EXPECTED
    * token mass of each distinct content at one copy's worth). Per
    * document: its exact-hash group size (d1 grain), its near-dup cluster
    * size (d5 grain, 1 for non-members), the effective multiplicity
    * `max(n_exact, n_cluster)` (a near-dup cluster subsumes its exact
    * copies), and `weight = 1 / eff` — one rational division, rounded
    * once, bit-identical cross-engine.
    *
    * Scale shape: pure composition — the d1 fold (md5-keyed, map-side
    * combined) and the d5 relation (O(pairs) LSH + bounded-round CC) each
    * scale as their own operator; gluing costs one hash-keyed and one
    * doc-keyed equi-join plus a cluster-grain count. No text moves past
    * the first scan (16-byte digests and ids only). */
  def softDedupWeights(docs: DataFrame, minJ: Double = 0.8,
      pairs: Option[DataFrame] = None): DataFrame = {
    val base = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val exact = base.groupBy(col("h")).agg(count(lit(1)).as("n_exact"))
    val cl = dupClusters(docs, minJ, pairs = pairs)
    val clSize = cl.groupBy(col("cluster")).agg(count(lit(1)).as("n_cluster"))
    base.join(exact, Seq("h"))
      .join(cl.join(clSize, Seq("cluster")).select(col("doc_id"), col("n_cluster")),
        Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_exact"),
        coalesce(col("n_cluster"), lit(1L)).as("n_cluster"),
        greatest(col("n_exact"), coalesce(col("n_cluster"), lit(1L))).as("eff"),
        round(lit(1.0) / greatest(col("n_exact"), coalesce(col("n_cluster"), lit(1L))), 4)
          .as("weight"))
  }

  // ---------------- LSH (b, r) tuning sweep (d21) ----------------

  /** Where the most recent [[lshTuningSweep]] dumped its long-form
    * signatures — per-dir (the d17/s25 `dirToken` convention). */
  @volatile private[graft] var TuneSigDump: String = ""

  /** Per-JVM registry of THE at-rest corpus MinHash artifact per dir —
    * full form (doc_id, m0..m95, sz, shs: signatures fused with the
    * shingle sets, [[signaturesWithSets]]'s output) plus the long form
    * (doc_id, i, m) the d17/d21 oracles replay. Signatures and sets are
    * INGEST work at 100 TB (d3 computes the identical fit on the serving
    * path; the table is maintained next to the corpus like the s5 codes)
    * — before this registry d21 AND d17 each re-paid the full shingle
    * pipeline + fit per run and dumped duplicate long-form artifacts.
    * First toucher in the JVM still executes the real pipeline and dumps
    * both forms; consumers prune columns at the parquet scan (d21 reads
    * only the m-columns, d17 reads m-columns + sets). */
  private[graft] val sigReg =
    graft.core.AtRestRegistry[(String, String)]("dedup.minhash_sigs", arity = 1)

  /** The at-rest signature artifact for `dir`: (full-form path, long-form
    * path). */
  private[graft] def signaturesAtRest(spark: SparkSession, dir: String): (String, String) =
    sigReg.getOrBuild(dir) {
      val fp = sigReg.pathFor(Similarity.OracleDumpRoot, "minhash_sigs", dir)
      val lp = sigReg.pathFor(Similarity.OracleDumpRoot, "minhash_sigs_long", dir)
      val sigCols = (0 until NumHashes).map("m" + _)
      signaturesWithSets(shingles(t(spark, dir, "documents")))
        .select((col("doc_id") +: sigCols.map(col)) ++ Seq(col("sz"), col("shs")): _*)
        .write.mode("overwrite").parquet(fp)
      Tables.parquet(spark, fp).select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${NumHashes - 1}), i -> struct(CAST(i AS BIGINT) AS i, element_at(array(${sigCols.mkString(",")}), CAST(i + 1 AS INT)) AS m))")).as("s"))
        .select(col("doc_id"), col("s.i").as("i"), col("s.m").as("m"))
        .write.mode("overwrite").parquet(lp)
      (fp, lp)
    }

  /** Theoretical MinHash-LSH collision probability 1 − (1 − jʳ)ᵇ at the
    * design similarity, rounded once — computed HERE so the Spark column
    * and the oracle literal are the same constant by construction. */
  def lshTheoRecall(b: Int, r: Int, j: Double = 0.8): Double =
    BigDecimal(1.0 - math.pow(1.0 - math.pow(j, r), b))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The d21 configuration grid: (bands, rows) factorizations of the 96
    * minhashes, from high-recall/low-precision to the reverse. */
  val LshTuneConfigs: Seq[(Int, Int)] = Seq((32, 3), (24, 4), (16, 6), (12, 8))

  /** LSH (b, r) CALIBRATION sweep (d21) — the S-curve measurement that
    * justifies an index shape before 100 TB gets signed with it: for each
    * factorization (b bands × r rows) of the same 96-minhash signature,
    * the EMPIRICAL candidate-pair count, recall and precision against the
    * exact-Jaccard truth (the d2 PPJoin relation), next to the design-point
    * theoretical collision rate 1 − (1 − 0.8ʳ)ᵇ. More rows per band →
    * sharper curve → fewer false candidates but recall risk; this artifact
    * shows where the fixture's corpus actually sits. Band keys are the raw
    * r-value tuples (what a production system hashes for key size —
    * equality semantics identical), so the oracle replays them verbatim
    * from the dumped signature artifact.
    *
    * Scale shape: ONE shingle pipeline feeds everything (the d17 fused
    * discipline); each config contributes doc×b band rows to one shared
    * equi-join; the true-pair relation is the run-rarely PPJoin eval (the
    * d18 adjudication: a calibration job, not a serving path). */
  def lshTuningSweep(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame = {
    import spark.implicits._
    val sigCols = (0 until NumHashes).map("m" + _)
    // the signature relation at rest (ingest-path work — see [[sigReg]]);
    // the calibration sweep reads ONLY the m-columns (parquet pruning)
    val (fullPath, longPath) = signaturesAtRest(spark, dir)
    TuneSigDump = longPath
    val sigs = Tables.parquet(spark, fullPath)
      .select((col("doc_id") +: sigCols.map(col)): _*)
    // exact ground truth from the at-rest registry ([[nearDupPairsAtRest]]
    // — first toucher in the JVM pays the PPJoin once, every consumer
    // after reads parquet; r10's top-tail directive): a plain parquet scan
    // per consumer below, no materialize needed
    val truePairs = nearDupPairsAtRest(spark, dir, minJ).select(col("a"), col("b"))
    // ONE banding pass for ALL configs (r12 #4): the signatures are
    // identical across configs — only the grouping changes — so the four
    // grids flow as one 84-struct array explode in a single codegen span
    // over one scan, not four unioned branches each re-projecting the
    // checkpoint. Materialized: the self-join consumes it twice.
    val allBands = array(LshTuneConfigs.flatMap { case (b, r) =>
      (0 until b).map(j => struct(lit(b).as("cfg_b"), lit(r).as("cfg_r"),
        lit(j).as("band"),
        concat_ws("_", (0 until r).map(i => col(s"m${j * r + i}")): _*).as("k")))
    }: _*)
    val bandRel = materialize(sigs
      .select(col("doc_id"), explode(allBands).as("bk"))
      .select(col("bk.cfg_b").as("cfg_b"), col("bk.cfg_r").as("cfg_r"),
        col("bk.band").as("band"), col("bk.k").as("k"), col("doc_id")))
    val cand = bandRel.select(col("cfg_b"), col("cfg_r"), col("band"), col("k"),
      col("doc_id").as("a"))
      .join(bandRel.select(col("cfg_b"), col("cfg_r"), col("band"), col("k"),
        col("doc_id").as("b")), Seq("cfg_b", "cfg_r", "band", "k"))
      .filter(col("a") < col("b"))
      .select(col("cfg_b"), col("cfg_r"), col("a"), col("b")).distinct()
      .transform(materialize)
    val nCand = cand.groupBy(col("cfg_b"), col("cfg_r")).agg(count(lit(1)).as("n_cand"))
    val nFound = cand.join(truePairs, Seq("a", "b"))
      .groupBy(col("cfg_b"), col("cfg_r")).agg(count(lit(1)).as("n_found"))
    val theoDf = LshTuneConfigs.map { case (b, r) => (b, r, lshTheoRecall(b, r, minJ)) }
      .toDF("cfg_b", "cfg_r", "theo_recall")
    nCand.join(nFound, Seq("cfg_b", "cfg_r"), "left_outer")
      .na.fill(0L, Seq("n_found"))
      .crossJoin(broadcast(truePairs.agg(count(lit(1)).as("n_true"))))
      .join(broadcast(theoDf), Seq("cfg_b", "cfg_r"))
      .select(col("cfg_b").as("b"), col("cfg_r").as("r"), col("n_cand"),
        col("n_found"), col("n_true"),
        round(col("n_found").cast(DoubleType) / col("n_true"), 4).as("recall"),
        round(col("n_found").cast(DoubleType) / col("n_cand"), 4).as("prec"),
        col("theo_recall"))
  }

  // ---------------- incremental cluster maintenance (d20) ----------------

  /** Per-JVM registry of the at-rest cluster-assignment artifact per
    * (dir, minJ) — the build consumes BOTH, so both are in the key (a
    * dir-only key would hand a non-default-minJ caller the first
    * toucher's clustering: the r11 ivfAtRest bug class, caught by this
    * migration). */
  private[graft] val clusterReg =
    graft.core.AtRestRegistry[String]("dedup.d20_clusters", arity = 2)

  /** INCREMENTAL near-dup cluster maintenance (d20) — the d5 relation kept
    * current as shards arrive, without ever re-clustering history: the
    * at-rest artifact is the doc→cluster assignment over the history shard
    * (min-label convention, written once — the q33 artifact discipline);
    * a delta merges in by (1) finding only the NEW pairs — delta×corpus
    * via the at-rest LSH index (the d8 probe) and delta×delta — and (2)
    * running connected components at LABEL grain: each new pair's
    * endpoints collapse to their current labels (at-rest cluster id, or
    * self for new/unclustered docs), so the merge graph is O(new pairs),
    * never O(corpus). Min-labels compose (an at-rest label IS the min of
    * its members, so the min over merged labels is the min over merged
    * members), which makes incremental ≡ full recompute EXACTLY — and the
    * ORACLE is d5's full recompute over the whole corpus, so the
    * equivalence is gated, not asserted.
    *
    * At 100 TB: per-shard cost is the delta's signatures + index-collision
    * verification + a label-grain merge — while a full re-cluster touches
    * every pair ever found. This is how a production dedup index actually
    * runs (d7/d8 maintain the pair feed; this maintains the clusters). */
  def incrementalClusters(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame = {
    val p = clusterReg.getOrBuild(dir, minJ) {
      val path = clusterReg.pathFor(Similarity.OracleDumpRoot, "d20_clusters", dir, minJ)
      // history pairs from the at-rest signatures (r13 opt — identical
      // pipeline output): the cold clustering build no longer re-runs
      // the corpus shingle pipeline
      val hist = sigSetsAtRest(spark, dir)
        .filter(pmod(col("doc_id"), lit(DeltaMod)) =!= 0)
      connectedComponents(minhashPairsFrom(hist, minJ).select(col("a"), col("b")))
        .write.mode("overwrite").parquet(path)
      path
    }
    val atRest = Tables.parquet(spark, p)
    // delta signatures at rest (the d8 rationale above) — and the d8
    // probe inside incrementalNearDup reads the SAME artifact, so the
    // delta shingle pipeline that used to run TWICE per d20 (once here,
    // once inside the probe) now runs zero times warmed
    val dSigSets = sigSetsAtRest(spark, dir)
      .filter(pmod(col("doc_id"), lit(DeltaMod)) === 0)
    val newPairs = materialize(
      incrementalNearDup(spark, dir, minJ)
        .select(col("delta_id").as("a"), col("corpus_id").as("b"))
        .unionByName(minhashPairsFrom(dSigSets, minJ).select(col("a"), col("b"))))
    val lblEdges = newPairs
      .join(atRest.select(col("doc_id").as("a"), col("cluster").as("la")), Seq("a"), "left_outer")
      .join(atRest.select(col("doc_id").as("b"), col("cluster").as("lb")), Seq("b"), "left_outer")
      .select(coalesce(col("la"), col("a")).as("a"), coalesce(col("lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val labelMap = connectedComponents(lblEdges)
      .select(col("doc_id").as("lbl"), col("cluster").as("nl"))
    val histPart = atRest.join(labelMap, atRest("cluster") === labelMap("lbl"), "left_outer")
      .select(col("doc_id"), coalesce(col("nl"), col("cluster")).as("cluster"))
    val newDocs = newPairs.select(col("a").as("doc_id"))
      .unionByName(newPairs.select(col("b").as("doc_id"))).distinct()
      .join(atRest.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val newPart = newDocs.join(labelMap, newDocs("doc_id") === labelMap("lbl"), "left_outer")
      .select(col("doc_id"), coalesce(col("nl"), col("doc_id")).as("cluster"))
    histPart.unionByName(newPart)
  }

  // ---------------- SymSpell fuzzy entity match (d19) ----------------

  /** The synthesized "dirty" spelling of each customer name — a pure
    * function of (c_custkey, c_name) the oracle replays: one of the three
    * canonical single-keystroke typo classes at position
    * p = (c_custkey % 16) + 2 (always interior for these 18-char names) —
    * deletion, substitution-with-'x', or adjacent transposition. */
  private[ops] def typoNameSql: String =
    """CASE CAST(c_custkey % 3 AS INT)
      | WHEN 0 THEN concat(substr(c_name, 1, CAST(c_custkey % 16 AS INT) + 1),
      |                    substr(c_name, CAST(c_custkey % 16 AS INT) + 3))
      | WHEN 1 THEN concat(substr(c_name, 1, CAST(c_custkey % 16 AS INT) + 1), 'x',
      |                    substr(c_name, CAST(c_custkey % 16 AS INT) + 3))
      | ELSE concat(substr(c_name, 1, CAST(c_custkey % 16 AS INT) + 1),
      |             substr(c_name, CAST(c_custkey % 16 AS INT) + 3, 1),
      |             substr(c_name, CAST(c_custkey % 16 AS INT) + 2, 1),
      |             substr(c_name, CAST(c_custkey % 16 AS INT) + 4))
      |END""".stripMargin.replace("\n", " ")

  /** Deletion variant `i` of a string column: the string itself for
    * `i = 0`, else the string with character `i` (1-based) deleted. The
    * depth-1 neighborhood is this expression over i ∈ 0..length — kept as
    * a scalar so the candidate join can key on `xxhash64(variant)` and
    * re-derive the variant row-locally for the exact equality check
    * (r14 opt): the blocking exchange then carries an 8-byte key + a
    * 4-byte position instead of the ~18-char variant string, and the join
    * compares longs. Equal-adjacent-character deletions yield duplicate
    * variants (the old form array_distinct'ed them away); those only
    * duplicate candidate rows, which `dropDuplicates(src_key, key)`
    * removes before anything is counted, so `n_cand` is unchanged. */
  private def delVariantAt(c: String, i: String): String =
    s"CASE WHEN $i = 0 THEN $c ELSE concat(substr($c, 1, $i - 1), substr($c, $i + 1)) END"

  /** Fuzzy entity matching via symmetric-delete blocking (d19) — the
    * records-linkage operator a pipeline runs when keys are dirty (typo'd
    * names, OCR'd ids): candidate pairs come from an EQUI-join on the
    * depth-1 deletion neighborhood (the SymSpell spell-correction index:
    * any two strings within one deletion/substitution/transposition of each
    * other share a delete-variant — deletion trivially, substitution via
    * deleting the edited position on both sides, transposition via deleting
    * either swapped character), then exact `levenshtein` verifies ≤ 2 and
    * the best match per dirty record wins (min distance, then min key).
    * `n_cand` reports blocking selectivity; `matched` reports whether the
    * linkage recovered the planted truth.
    *
    * Scale shape: each side explodes to (L+1) ≈ 19 keys per record and the
    * candidates are ONE equi-join on those keys — the index is O(n·L) and
    * no all-pairs comparison exists anywhere; `levenshtein` (a codegen'd
    * built-in) runs only on bucket collisions, exactly the SymSpell
    * production layout. At 100 TB the delete-variant index shuffles
    * n·(L+1) short strings, the same order as any inverted-index build. */
  /** [[fuzzyMatch]]'s candidate relation pre-verification — exposed so
    * the plan-shape spec can pin the blocking join's 8-byte keys (the
    * join runs eagerly under the materialize inside fuzzyMatch, so the
    * gated query's own plan never shows it). */
  private[graft] def fuzzyCandidates(cust: DataFrame): DataFrame = {
    val clean = cust.select(col("c_custkey").as("key"), col("c_name").as("name"))
    val dirty = cust.select(col("c_custkey").as("src_key"), expr(typoNameSql).as("dname"))
    // Candidate blocking on xxhash64(variant) — 8-byte equi-join keys
    // (guide §2.3: shuffle keys, not payloads). Unlike d13, a hash
    // collision here would CHANGE the output (`n_cand` counts candidates
    // before the levenshtein verify), so exactness is preserved by
    // re-deriving both variant strings row-locally from (string, deletion
    // position) after the join and requiring true string equality — the
    // candidate set is bit-identical to the string-keyed join's.
    val ck = clean
      .select(col("key"), col("name"), explode(expr("sequence(0, length(name))")).as("ci"))
      .select(col("key"), col("name"), col("ci"),
        xxhash64(expr(delVariantAt("name", "ci"))).as("vh"))
    val dk = dirty
      .select(col("src_key"), col("dname"), explode(expr("sequence(0, length(dname))")).as("di"))
      .select(col("src_key"), col("dname"), col("di"),
        xxhash64(expr(delVariantAt("dname", "di"))).as("vh"))
    dk.join(ck, Seq("vh"))
      .filter(expr(delVariantAt("dname", "di")) === expr(delVariantAt("name", "ci")))
      .select(col("src_key"), col("dname"), col("key"), col("name"))
      .dropDuplicates("src_key", "key")
  }

  def fuzzyMatch(cust: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val verified = materialize(fuzzyCandidates(cust)
      .withColumn("lev", levenshtein(col("dname"), col("name")).cast(LongType)))
    val nc = verified.groupBy(col("src_key")).agg(count(lit(1)).as("n_cand"))
    val w = Window.partitionBy(col("src_key")).orderBy(col("lev"), col("key"))
    verified.filter(col("lev") <= 2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(nc, Seq("src_key"))
      .select(col("src_key"), col("key").as("match_key"), col("lev"), col("n_cand"),
        (col("key") === col("src_key")).as("matched"))
  }

  /** DuckDB oracle twin of [[fuzzyMatch]] — same typo synthesis, deletion
    * neighborhoods, blocking join, verification threshold, and tie order. */
  def fuzzyMatchOracleSql: String = {
    def hood(c: String): String =
      s"list_distinct(list_append([substr($c, 1, i - 1) || substr($c, i + 1) " +
        s"for i in range(1, length($c) + 1)], $c))"
    s"""WITH cl AS (SELECT c_custkey AS key, c_name AS name FROM customer),
       | dt AS (SELECT c_custkey AS src_key, $typoNameSql AS dname FROM customer),
       | ck AS (SELECT key, name, unnest(${hood("name")}) AS v FROM cl),
       | dk AS (SELECT src_key, dname, unnest(${hood("dname")}) AS v FROM dt),
       | cand AS (SELECT DISTINCT d.src_key, d.dname, c.key, c.name
       |          FROM dk d JOIN ck c ON d.v = c.v),
       | ver AS (SELECT src_key, key,
       |          CAST(levenshtein(dname, name) AS BIGINT) AS lev FROM cand),
       | nc AS (SELECT src_key, CAST(count(*) AS BIGINT) AS n_cand FROM ver GROUP BY 1),
       | best AS (SELECT src_key, key, lev,
       |           row_number() OVER (PARTITION BY src_key ORDER BY lev, key) AS rn
       |          FROM ver WHERE lev <= 2)
       |SELECT b.src_key, b.key AS match_key, b.lev, n.n_cand,
       | (b.key = b.src_key) AS matched
       |FROM best b JOIN nc n USING (src_key) WHERE rn = 1""".stripMargin
  }

  // ---------------- cross-document duplicated-span profile (d22) ----------------

  /** CROSS-document duplicated-SPAN profile (d22, the ExactSubstr
    * principle of Lee et al. 2022 at token-window grain): for every
    * document, the fraction of token POSITIONS covered by at least one
    * 6-token window that also occurs verbatim in ANOTHER document. d6
    * answers "which block survives globally" (dedup by first
    * occurrence); this answers the per-document QUESTION a curation
    * pipeline cuts on — "how much of THIS document is boilerplate shared
    * with the rest of the corpus" (d12's C4 line rule, generalized past
    * line boundaries to arbitrary token windows).
    *
    * Scale shape: the ONLY relations are the shingle inverted index
    * (token grain — the d2/d3 substrate), a key-grain cross-doc filter
    * (count distinct doc ≥ 2 — no pair relation, no join back to text),
    * and a bounded 6× position expansion de-duplicated at (doc, pos)
    * grain. Nothing is all-pairs and nothing rejoins the documents
    * table; at 100 TB the widest shuffle carries (hash, doc, idx)
    * triples, the same mass d3's index already moves. */
  def dupSpans(docs: DataFrame, k: Int = 6): DataFrame = {
    // materialized (r13 opt): the window relation feeds TWO consumers —
    // the cross-doc key filter and the coverage probe — and under AQE
    // the unshared lineage re-ran the whole tokenize+md5 window pipeline
    // (the heaviest pass of the op) once per consumer (the d2/r4
    // lesson). One pass, two readers of (doc_id, j, h) triples.
    val sh = materialize(docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("n_tok"),
        posexplode(expr(
          s"""CASE WHEN size(toks) >= $k
             |THEN transform(sequence(0, size(toks) - $k),
             |               j -> md5(concat_ws(' ', slice(toks, j + 1, $k))))
             |ELSE cast(array() AS array<string>) END""".stripMargin)))
      .toDF("doc_id", "n_tok", "j", "h"))
    val crossDoc = sh.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val covered = sh.join(crossDoc, Seq("h"))
      .select(col("doc_id"), explode(sequence(col("j"), col("j") + lit(k - 1))).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_pos"))
    docs.select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast(LongType).as("n_tok"))
      .join(covered, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        outd(coalesce(col("n_dup_pos"), lit(0L)).cast(DoubleType) / col("n_tok"), 4)
          .as("dup_frac"))
  }

  /** DuckDB oracle twin of [[dupSpans]] — the same 6-token md5 windows,
    * cross-doc key filter, and position-coverage fold. */
  def dupSpansOracleSql(k: Int = 6): String =
    s"""WITH base AS (SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       | sh AS (SELECT doc_id, u.j AS j, u.h AS h FROM (
       |    SELECT doc_id, unnest([{'j': j, 'h': md5(array_to_string(t[j+1:j+$k], ' '))}
       |                           FOR j IN range(0, CAST(greatest(len(t) - $k + 1, 0) AS BIGINT))]) AS u
       |    FROM base) s),
       | xk AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       | cov AS (SELECT DISTINCT s.doc_id, s.j + d.d AS pos
       |         FROM sh s JOIN xk USING (h), range(0, $k) d(d)),
       | agg AS (SELECT doc_id, count(*) AS n_dup FROM cov GROUP BY doc_id)
       |SELECT b.doc_id, CAST(len(b.t) AS BIGINT) AS n_tok,
       | CAST(coalesce(a.n_dup, 0) AS BIGINT) AS n_dup_pos,
       | round(CAST(coalesce(a.n_dup, 0) AS DOUBLE) / len(b.t), 4) AS dup_frac
       |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin
}
