package graft.tools

/** Dump `.explain("formatted")` output for named queries to files:
  * `sbt "runMain graft.tools.PlanDump <outDir> <suffix> [query ...]"` —
  * writes `<outDir>/<query>_<suffix>.txt` for each query. Runs under the
  * bench's AQE/partition settings so the captured initial plans match what
  * the bench executes (AQE final plans re-optimize at runtime; the
  * structural claims — Exchange count, join strategy, PushedFilters,
  * ReadSchema — are visible in the initial plan). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = Harness.sfDir
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
