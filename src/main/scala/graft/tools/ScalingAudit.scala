package graft.tools

/** Scaling-exponent audit (r11 directive 4): answers the 100×-scale
  * question with DATA instead of plan reading. Times the costliest
  * queries at two scale factors (sf0.01 and sf0.1 — a 10× data step,
  * both driver-generated fixtures), best-of-3 per SF under the exact
  * Bench harness settings, subtracts the per-SF harness floor (a
  * trivial noop-sink job, measured the same way), and reports each
  * query's observed growth factor and scaling exponent
  * `log10(t₁/t₀)` over the floor-subtracted times.
  *
  * Adjudication rule: 10× data under O(n) is ratio ≈ 10; O(n log n)
  * reaches ~13–15× at these row counts; anything past `FlagRatio` (15)
  * is flagged SUPER-LINEAR and needs a written explanation or a fix
  * (BENCH_NOTES carries the table + verdicts). Sub-floor timings (a
  * query cheaper than the harness floor at the small SF) print `~` —
  * their ratio is noise-dominated and not adjudicable.
  *
  * The at-rest registry builders (d2's pair relation, s21's kNN graph,
  * s39's IVF fit) are special-cased: their per-JVM registries are RESET
  * before the first rep at each SF, so rep 1 times the real cold BUILD
  * (the cost that actually scales with the corpus) and best-of-3 times
  * the warmed consumer read; both are reported. For every other query
  * rep 1 only adds one-time janino compilation, so best-of-3 is the
  * honest per-query number (the Bench convention). */
object ScalingAudit {
  private val Queries = Seq(
    // registry BUILDERS first (r13 review: a builder-consuming query
    // sequenced before its builder would fold the builder's cold cost
    // into its own rep 1 — d21 used to run before d2 and its adjudicated
    // "cold signature build" silently included the cold PPJoin)
    "d2_dedup_ngram", "s21_knn_graph", "s39_ivf_delta",
    "c3_decontam", "c18_fuzzy_decontam",
    // top bands (bench_bands.json idle sweeps) — consumers run warmed
    "s24_covariance", "d21_lsh_tuning", "s28_kmeans_parallel",
    "q40_mad_outliers", "q28_salted_join", "e6_stream_ivjoin",
    "e25_stream_fulljoin", "e7_stream_leftjoin", "d13_containment",
    "d20_incr_clusters", "d17_bbit_minhash", "e27_late_audit",
    "a12_convert_pipeline", "s11_ann_recall", "e2_stream_dedup",
    // the decontamination/release consumers (read the builders warmed)
    "c33_decontam_ledger",
    "m30_visual_decontam", "c35_decontam_ledger_mm", "c34_release_export",
    // warmed c36 = delta-only screen + append-only packing (O(delta))
    "c36_incr_export")

  /** Queries whose first rep must time the cold at-rest BUILD — mapped to
    * EXACTLY the registry that query builds (ADVICE r12: a blanket reset
    * before c18 also chilled c3, so c33's rep 1 silently re-paid a cold
    * c3 build, contradicting the reads-both-warmed design). */
  private val RegistryBuilds: Map[String, () => Unit] = Map(
    "d2_dedup_ngram" -> (() => graft.ops.Dedup.pairReg.reset()),
    "s21_knn_graph" -> (() => graft.ops.Similarity.knnGraphReg.reset()),
    "s39_ivf_delta" -> (() => graft.ops.Similarity.s39FitReg.reset()),
    "c3_decontam" -> (() => graft.ops.Corpus.verbatimReg.reset()),
    "c18_fuzzy_decontam" -> (() => graft.ops.Corpus.fuzzyPairReg.reset()),
    "d21_lsh_tuning" -> (() => graft.ops.Dedup.sigReg.reset()),
    "d13_containment" -> (() => graft.ops.Dedup.containSetReg.reset()),
    "m30_visual_decontam" -> (() => graft.ops.Multimodal.visualDecontamReg.reset()),
    "c36_incr_export" -> (() => graft.ops.Corpus.exportStateReg.reset()))

  private val FlagRatio = 15.0

  def main(args: Array[String]): Unit = {
    val sfs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = Harness.session()
    def timeOnce(name: String, dir: String): Double =
      Harness.force(spark, name, dir).fold(sys.error(s"$name failed over $dir"))(_.total)
    Harness.warmup(spark)

    case class M(cold: Double, best: Double)
    val results: Map[(String, String), M] = (for {
      dir <- sfs
      // per-SF clean slate (each artifact keys on the input dir, so this
      // only makes run order independent of earlier touches in one JVM;
      // the per-query RegistryBuilds resets are what time the cold builds)
      _ = Harness.resetArtifacts()
      name <- Queries
    } yield {
      RegistryBuilds.get(name).foreach(reset => reset())
      val reps = (1 to 3).map(_ => timeOnce(name, dir))
      (name, dir) -> M(reps.head, reps.min)
    }).toMap
    val floors = sfs.map(d => d -> Harness.floor(spark)).toMap

    val (lo, hi) = (sfs.head, sfs.last)
    println(f"[scaling] floor ${lo} = ${floors(lo)}%.3f s, ${hi} = ${floors(hi)}%.3f s")
    println("| query | t@sf0.01 | t@sf0.1 | adj ratio | exponent | cold ratio | verdict |")
    println("|---|---|---|---|---|---|---|")
    val rows = Queries.map { n =>
      val (m0, m1) = (results((n, lo)), results((n, hi)))
      val a0 = m0.best - floors(lo)
      val a1 = m1.best - floors(hi)
      val adjOk = a0 > 0.05 && a1 > 0 // sub-floor small-SF timings aren't adjudicable
      val ratio = if (adjOk) a1 / a0 else Double.NaN
      val expo = if (adjOk) math.log10(ratio) else Double.NaN
      val coldRatio = if (RegistryBuilds.contains(n) && m0.cold - floors(lo) > 0.05)
        (m1.cold - floors(hi)) / (m0.cold - floors(lo)) else Double.NaN
      val worst = Seq(ratio, coldRatio).filterNot(_.isNaN).foldLeft(0.0)(math.max)
      val verdict = if (!adjOk && coldRatio.isNaN) "~ sub-floor"
        else if (worst > FlagRatio) "SUPER-LINEAR — explain or fix"
        else "ok (<= n log n)"
      def f(x: Double) = if (x.isNaN) "~" else f"$x%.2f"
      println(s"| $n | ${f(m0.best)} | ${f(m1.best)} | ${f(ratio)} | ${f(expo)} | ${f(coldRatio)} | $verdict |")
      (n, m0, m1, ratio, coldRatio, verdict)
    }
    val flagged = rows.filter(_._6.startsWith("SUPER"))
    println(s"[scaling] flagged: ${if (flagged.isEmpty) "none" else flagged.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
