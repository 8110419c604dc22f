package graft.testutil

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for test suites (one JVM-wide session). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "4g"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fresh directory under the JVM's scratch parent (deleted at exit). */
  def tempDir(prefix: String): String = graft.core.Scratch.dir(prefix)
}
