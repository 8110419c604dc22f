package graft.tools

/** Split a query's cost into CONSTRUCTION (eager driver-side work done
  * while `SparkEntry.queries(name)` builds the DataFrame — fits, dumps,
  * registry builds) and SINK (the noop write of the returned plan), the
  * two phases the bench's single number lumps together. Reps are printed
  * individually so a one-time cold cost is visible.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.tools.PhaseProbe <query> [reps]'
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = Harness.session()
    Harness.warmup(spark)
    (1 to reps).foreach { i =>
      val t = Harness.force(spark, name, Harness.sfDir).getOrElse(sys.error(s"$name failed"))
      println(f"[phase] $name rep=$i construct=${t.construct}%.3f sink=${t.sink}%.3f")
    }
    spark.stop()
  }
}
