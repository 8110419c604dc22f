package graft.ops

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.{CorpusFixture, PlanProbe, SparkSuite}

/** `Tables.parquet` infers a path's schema once per file set: a repeated
  * read of an unchanged path starts no Spark job, and anything that could
  * change the inferred schema (the files, or a parquet inference setting)
  * infers again. */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def jobsToBuild(build: => Any): Int =
    PlanProbe.jobsAndQueries(spark) { build }._1

  test("a second read of an unchanged path starts no Spark job") {
    val p = SparkSuite.tempDir("graft-read") + "/t"
    Seq((1L, "x"), (2L, "y")).toDF("id", "s").write.parquet(p)
    // the probe sees inference: a plain read of the same path starts a job
    assert(jobsToBuild(spark.read.parquet(p)) >= 1)
    val first = Tables.parquet(spark, p)
    assert(jobsToBuild(Tables.parquet(spark, p)) == 0)
    val again = Tables.parquet(spark, p)
    assert(again.schema == first.schema && again.schema == spark.read.parquet(p).schema)
    assert(again.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "x"), (2L, "y")))
  }

  test("an overwrite that adds, drops or retypes a column reads the new schema") {
    val p = SparkSuite.tempDir("graft-read") + "/t"
    Seq((1, "x")).toDF("a", "b").write.parquet(p)
    assert(Tables.parquet(spark, p).schema.map(f => f.name -> f.dataType) ==
      Seq("a" -> IntegerType, "b" -> StringType))
    Seq((5L, 2.5)).toDF("a", "c").write.mode("overwrite").parquet(p)
    val df = Tables.parquet(spark, p)
    assert(df.schema.map(f => f.name -> f.dataType) == Seq("a" -> LongType, "c" -> DoubleType))
    assert(df.as[(Long, Double)].collect().toSeq == Seq((5L, 2.5)))
    // a file appended beside the old ones changes the file set too
    Seq((6L, 3.5, "n")).toDF("a", "c", "d").write.mode("append").parquet(p)
    assert(jobsToBuild(Tables.parquet(spark, p)) >= 1)
  }

  test("toggling nanosAsLong between two reads of an events fixture changes the ts type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = SparkSuite.tempDir("graft-events")
    // parquet TIMESTAMP(NANOS), which Spark itself never writes
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.t(spark, dir, "events").schema("ts").dataType == LongType)
      spark.conf.set(key, "false")
      // the schema inferred under `true` is not reused: inference runs and
      // rejects the nanosecond column as Spark does without the setting
      intercept[AnalysisException](Tables.t(spark, dir, "events"))
      val ev = Tables.events(spark, dir) // sets the setting back to true
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.select(col("ts").cast(LongType)).as[Long].collect().toSeq == Seq(1700000000L))
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a glob path reads as spark.read.parquet does") {
    val root = SparkSuite.tempDir("graft-read")
    Seq(1L, 2L).toDF("id").write.parquet(s"$root/a")
    Seq(3L).toDF("id").write.parquet(s"$root/b")
    for (_ <- 1 to 2)
      assert(Tables.parquet(spark, s"$root/*").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(Tables.parquet(spark, s"$root/a", s"$root/b").count() == 3)
  }

  test("s12's stored norms equal the inline norms of its postings, row for row") {
    val dir = CorpusFixture.documents(spark)
    Similarity.postingsReg.reset()
    Similarity.sparseTfidfTopK(spark, dir).count()
    val wts = spark.read.parquet(Similarity.postingsReg.lookup(dir, 95).get)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // the norms serving used to aggregate from the postings on every run
    val inline = wts.groupBy(col("doc_id"))
      .agg(sum((col("w") * col("w")).cast(DecimalType(18, 8))).cast(DoubleType).as("nsq"))
      .as[(Long, Double)].collect().map { case (d, n) => d -> bits(n) }.sorted.toSeq
    val stored = wts.select(col("doc_id"), col("nsq")).distinct()
      .as[(Long, Double)].collect().map { case (d, n) => d -> bits(n) }.sorted.toSeq
    assert(stored.size > 100 && stored == inline)
    // and a warm run aggregates nothing but its dot products: one
    // HashAggregate pair, no norms join beside the query-side broadcast
    val plan = Similarity.sparseTfidfTopK(spark, dir).queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1, plan)
  }
}
