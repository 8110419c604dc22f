package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.core.AtRestRegistry
import graft.testutil.SparkSuite

/** The measurement harness every bench main shares: a failed run is never
  * a timing, a force leaves no cached relation behind, the cold reset
  * drops operator artifacts only, and no main grows its own session. */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  val dir = "/root/testdata/sf0.001"

  test("a registered query that throws yields no timing and is recorded under its phase") {
    val failures = new Harness.Failures
    // q01_agg is registered; over a missing scale-factor dir its scan throws
    val missing = SparkSuite.tempDir("graft-harness-nosf") + "/absent"
    assert(Harness.force(spark, "q01_agg", missing, failures, "cold").isEmpty)
    assert(failures.toSeq == Seq("q01_agg" -> "cold"))
    val t = Harness.force(spark, "q01_agg", dir, failures).get
    assert(t.construct >= 0 && t.sink > 0 && t.total == t.construct + t.sink)
    assert(failures.toSeq == Seq("q01_agg" -> "cold"))
  }

  test("force leaves no cached relation behind") {
    spark.range(10).cache().count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(Harness.force(spark, "q01_agg", dir).nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("the artifact reset empties Artifact registries and keeps Fixture entries") {
    val artifact = AtRestRegistry[String]("spec.harness_artifact", arity = 1)
    val fixture = AtRestRegistry[String]("spec.harness_fixture", arity = 1,
      kind = AtRestRegistry.Fixture)
    artifact.getOrBuild("k") { "built" }
    fixture.getOrBuild("k") { "staged" }
    Harness.resetArtifacts()
    assert(artifact.lookup("k").isEmpty)
    assert(fixture.lookup("k").contains("staged"))
  }

  test("only the harness, Verify, the demos and ByteCompatDump build a session (source scan)") {
    // every measurement main takes its session from Harness.session(); the
    // others show how a user builds one, or gate on their own settings
    val allowed = Set("Harness.scala", "Verify.scala", "VolumeDemo.scala",
      "ExtensionsDemo.scala", "CurationPipelineDemo.scala", "ByteCompatDump.scala")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val offenders = walk(new java.io.File("src/main/scala/graft"))
      .filter(_.getName.endsWith(".scala"))
      .filterNot(f => allowed(f.getName))
      .filter(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .contains("SparkSession.builder"))
    assert(offenders.isEmpty, s"own SparkSession.builder: ${offenders.map(_.getName)}")
  }
}
