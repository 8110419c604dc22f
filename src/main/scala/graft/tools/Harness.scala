package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one measurement harness behind `graft.Bench` and the tools mains.
  * Each measurement decision lives here once: the bench session policy,
  * the warmup job, a timed noop-sink force of a registered query, the
  * no-op floor probe and the artifact-registry reset that makes a run
  * cold. A query is forced through the `noop` sink because `count()`
  * would let Catalyst prune projection work. */
private[graft] object Harness {
  /** Scale-factor directory the queries read (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Local cores, and shuffle partitions (`SPARK_GRAFT_CPUS`). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The bench session: local[cpus], cpus shuffle partitions, AQE on, UTC,
    * no UI, log level ERROR. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Wall-clock seconds `body` takes. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Evaluate `ds` in full and discard the rows. */
  def sink(ds: Dataset[_]): Unit = ds.write.mode("overwrite").format("noop").save()

  /** Absorbs JVM, session and codegen startup before anything is timed. */
  def warmup(spark: SparkSession): Unit = sink(spark.range(1000).selectExpr("sum(id)"))

  /** Best-of-3 one-partition noop job: the submit/schedule/commit cost
    * under every query's number. Its drift across a run reads the box's
    * load, independent of any query's own cost. */
  def floor(spark: SparkSession): Double =
    (1 to 3).map(_ => seconds(sink(spark.range(1).coalesce(1)))).min

  /** Seconds spent building the DataFrame (eager driver-side fits, dumps,
    * registry builds) and then sinking it. */
  final case class Timing(construct: Double, sink: Double) {
    def total: Double = construct + sink
  }

  /** Every run that threw, as (name, phase) in order. A failed run is
    * never a timing: it is listed here and left out of every timing. */
  final class Failures {
    private val runs = scala.collection.mutable.LinkedHashSet.empty[(String, String)]

    def record(name: String, phase: String, e: Throwable): None.type = {
      System.err.println(s"[harness] $name ($phase) failed: $e")
      runs += (name -> phase)
      None
    }

    def toSeq: Seq[(String, String)] = runs.toSeq
  }

  /** Build registered query `name` over `dir` and sink it. A query that
    * throws yields no timing and is recorded in `failures` under `phase`.
    * Either way the cache is cleared afterwards, so relations a query
    * persisted do not pile up memory pressure across a sweep. */
  def force(spark: SparkSession, name: String, dir: String,
      failures: Failures = new Failures, phase: String = "warm"): Option[Timing] =
    try {
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val construct = (System.nanoTime() - t0) / 1e9
      Some(Timing(construct, seconds(sink(df))))
    } catch { case e: Throwable => failures.record(name, phase, e) }
    finally spark.catalog.clearCache()

  /** Drop every operator-artifact registry entry, so the next run builds
    * what it reads. Fixture staging is kept: resetting it would orphan its
    * staged dirs from the shutdown hook's delete. */
  def resetArtifacts(): Unit =
    graft.core.AtRestRegistry.all
      .filter(_.kind == graft.core.AtRestRegistry.Artifact).foreach(_.reset())
}
