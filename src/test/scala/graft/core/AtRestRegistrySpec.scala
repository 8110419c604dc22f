package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SparkSuite

/** Gates for the unified at-rest registry utility (r12 directive #3): the
  * hand-rolled ConcurrentHashMap-per-file pattern produced a recurring bug
  * class (r11: ivfAtRest keyed by dir only while the build consumed nlist;
  * r12 ADVICE: fuzzyPairDumps keyed raw minJ while the path rounded it to
  * a percent), so the one shared implementation enforces key arity on
  * every call and derives dump paths from the canonical key itself. */
class AtRestRegistrySpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = "/root/testdata/sf0.001"

  test("arity is enforced on every call — a prefix key crashes, never degrades") {
    val r = AtRestRegistry[String]("spec.arity_probe", arity = 2)
    intercept[IllegalArgumentException] { r.getOrBuild("only-one") { "v" } }
    intercept[IllegalArgumentException] { r.getOrBuild("a", "b", "c") { "v" } }
    intercept[IllegalArgumentException] { r.pathFor("/tmp", "p", "only-one") }
    assert(r.getOrBuild("a", 7) { "built" } == "built")
    assert(r.lookup("a", 7).contains("built"))
  }

  test("concurrent first touchers serialize to exactly ONE build per key") {
    // the contract every at-rest artifact rests on: two queries racing a
    // cold registry must not both run the build (a doubled dump write
    // under mode=overwrite could hand one of them a half-written parquet)
    val r = AtRestRegistry[Int]("spec.concurrency_probe", arity = 1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 32).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = r.getOrBuild("k") {
            builds.incrementAndGet(); Thread.sleep(50); 7
          }
        })
      }
      assert(futs.map(_.get()).toSet == Set(7))
      assert(builds.get() == 1, s"build ran ${builds.get()} times")
    } finally pool.shutdown()
  }

  test("key parts must not contain the separator") {
    val r = AtRestRegistry[String]("spec.sep_probe", arity = 1)
    intercept[IllegalArgumentException] { r.getOrBuild("a|b") { "v" } }
  }

  test("registry names are unique per JVM") {
    AtRestRegistry[String]("spec.dup_probe", arity = 1)
    intercept[IllegalArgumentException] { AtRestRegistry[String]("spec.dup_probe", arity = 1) }
  }

  test("path uniqueness equals key uniqueness (the r12 fuzzyPairDumps aliasing)") {
    val r = AtRestRegistry[String]("spec.path_probe", arity = 3)
    // the exact ADVICE scenario: two minJ values that round to the same
    // percent must land at DISTINCT paths now that the path derives from
    // the canonical key, not a lossy projection of it
    val p1 = r.pathFor("/tmp/root", "c18_pairs", dir, 97, 0.801)
    val p2 = r.pathFor("/tmp/root", "c18_pairs", dir, 97, 0.804)
    assert(p1 != p2)
    // and the same key always derives the same path
    assert(p1 == r.pathFor("/tmp/root", "c18_pairs", dir, 97, 0.801))
  }

  test("every production registry keeps keys at its declared arity") {
    // populate a representative registry per owner object (this also
    // forces every owner's static init, so the enumeration below is total)
    graft.ops.Corpus.decontaminateAtRest(spark, dir).count()
    graft.ops.Dedup.nearDupPairsAtRest(spark, dir).count()
    graft.ops.Similarity.knnGraphAtRest(spark, dir).count()
    graft.ops.Relational.toString  // forces object init (and below)
    graft.ops.ArrayOps.toString
    graft.ops.Multimodal.toString
    graft.streaming.EventStreams.toString

    val expected = Set(
      "corpus.c3_verbatim", "corpus.c18_pairs", "corpus.c13_export",
      "corpus.c14_jsonl", "corpus.c15_evolve", "corpus.c20_manifest",
      "corpus.c36_export_state", "corpus.c37_release_fixity",
      "dedup.d7_hashidx", "dedup.dup_pairs", "dedup.d8_lshidx", "dedup.d20_clusters",
      "dedup.minhash_sigs", "dedup.d13_ranked_sets",
      "sim.s5_sq8codes", "sim.dim_means", "sim.s25_pcafit", "sim.s21_knngraph",
      "sim.s38_rqfit", "sim.s39_ivf",
      "rel.q30_bucketed", "rel.q33_mv", "rel.q36_dpp_fact",
      "rel.q42_target", "rel.q43_tt", "rel.q46_mv",
      "array.a45_ddl", "array.a46_fixity", "array.a47_mip_repair",
      "mm.m7_media", "mm.m30_visual", "stream.ts_type", "stream.staged_fixture")
    val live = AtRestRegistry.all.map(_.name).toSet
    val missing = expected -- live
    assert(missing.isEmpty, s"production registries not on the utility: $missing")

    // every key every live registry holds splits into exactly `arity`
    // parts — the structural invariant getOrBuild enforces at write time,
    // re-checked here over whatever this suite's run populated
    AtRestRegistry.all.foreach { r =>
      r.keys.foreach { k =>
        assert(k.split("\\|", -1).length == r.arity,
          s"registry '${r.name}' holds key '$k' not matching arity ${r.arity}")
      }
    }
  }

  test("build seconds count operator artifacts, not fixture staging") {
    val art = AtRestRegistry[String]("spec.kind_artifact", arity = 1)
    val fix = AtRestRegistry[String]("spec.kind_fixture", arity = 1, kind = AtRestRegistry.Fixture)
    art.getOrBuild("k") { Thread.sleep(5); "a" }
    fix.getOrBuild("k") { Thread.sleep(5); "f" }
    val secs = AtRestRegistry.buildSecondsByRegistry
    assert(secs.contains("spec.kind_artifact") && !secs.contains("spec.kind_fixture"))
    assert(graft.streaming.EventStreams.floorFixtureReg.kind == AtRestRegistry.Fixture)
    assert(graft.ops.Similarity.postingsReg.kind == AtRestRegistry.Artifact)
  }

  test("a query's registry lookups decide whether Bench gives it a cold run") {
    val docs = graft.testutil.CorpusFixture.documents(spark)
    def fed(q: String): Boolean = {
      val (_, touched) = AtRestRegistry.touchedBy {
        graft.SparkEntry.queries(q)(spark, docs).write.mode("overwrite").format("noop").save()
      }
      graft.Bench.registryFed(touched)
    }
    // built on the first run and served on the second: both count
    assert(fed("c18_fuzzy_decontam") && fed("c18_fuzzy_decontam"))
    assert(fed("s12_sparse_topk"))
    assert(!fed("t9_bm25"))
    // lookups after the recording ended are not recorded
    val (_, none) = AtRestRegistry.touchedBy(())
    graft.ops.Similarity.sparseTfidfTopK(spark, docs)
    assert(none.isEmpty)
  }

  test("no hand-rolled registry outside the utility (source scan)") {
    // the two remaining ConcurrentHashMap sites are NOT at-rest registries:
    //  - sources/PrecomputedCatalog.scala: DSv2 catalog state (tables are
    //    registered/dropped by DDL — mutable lifecycle, not build-once)
    //  - core/Shard.scala: bounded executor-side caches with task-scoped
    //    eviction (get/put + size caps, not computeIfAbsent-build-once)
    val allowed = Set("AtRestRegistry.scala", "PrecomputedCatalog.scala", "Shard.scala")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val offenders = walk(new java.io.File("src/main/scala/graft"))
      .filter(_.getName.endsWith(".scala"))
      .filterNot(f => allowed(f.getName))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("ConcurrentHashMap"))
    assert(offenders.isEmpty, s"hand-rolled registries: ${offenders.map(_.getName)}")
  }
}
