package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared table access + cross-engine-deterministic numeric helpers.
  *
  * The driver validates every query against DuckDB by hashing result values,
  * so floating-point aggregates must be bit-reproducible across engines:
  * sums run on exact decimals (order-insensitive), and only the final value
  * is cast to double and rounded.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet` that infers a path's schema once per file set.
    * Inference is a Spark job (a footer read, ~60 ms on a local session)
    * that a plain read repeats on every call, though fixtures and at-rest
    * artifacts rarely change between reads. Here one listing of the
    * path's leaf files (names, lengths, modification times) fingerprints
    * it; while the fingerprint and the parquet inference settings
    * ([[InferenceConfs]]) are unchanged, the read supplies the schema
    * inferred last time and starts no job. An overwrite, an appended
    * file or a changed setting infers afresh. Globs, several paths and a
    * path that cannot be listed read exactly as `spark.read.parquet`. */
  def parquet(spark: SparkSession, paths: String*): DataFrame = paths match {
    case Seq(path) if !path.exists(GlobChars.contains(_)) =>
      leafFingerprint(spark, path) match {
        case None => spark.read.parquet(path)
        case Some(fp) =>
          val key = (path +: InferenceConfs.map(spark.conf.getOption(_).orNull)).mkString("\u0000")
          Option(inferredSchemas.get(key)) match {
            case Some((`fp`, schema)) => spark.read.schema(schema).parquet(path)
            case _ =>
              val df = spark.read.parquet(path)
              inferredSchemas.put(key, (fp, df.schema))
              df
          }
      }
    case _ => spark.read.parquet(paths: _*)
  }

  /** The session settings parquet schema inference reads (partition
    * column typing included, for hive-partitioned paths). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.sources.partitionColumnTypeInference.enabled")

  private val GlobChars = "*?[]{}\\"

  /** (path + inference settings) → (leaf-file fingerprint, inferred
    * schema); least recently used entries beyond 512 are dropped. */
  private val inferredSchemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, StructType)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, StructType)]): Boolean = size() > 512
    })

  /** MD5 of the sorted (path, length, modification time) of every file
    * under `path`; None when the path cannot be listed, so the caller
    * reads it plainly and Spark reports the error. */
  private def leafFingerprint(spark: SparkSession, path: String): Option[String] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
      // listStatus, not listFiles(recursive): the latter also fetches block
      // locations, ~20 ms for a four-file local directory
      def walk(f: org.apache.hadoop.fs.FileStatus): Unit =
        if (f.isDirectory) fs.listStatus(f.getPath).foreach(walk)
        else leaves += s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}"
      walk(fs.getFileStatus(p))
      Some(graft.core.AtRestRegistry.md5Hex(leaves.sorted.mkString("\n")))
    } catch { case _: java.io.IOException | _: IllegalArgumentException => None }

  /** The events fixture has shipped two physical ts encodings: parquet
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects (read as raw
    * int64 via `nanosAsLong` and truncated to µs), and plain
    * TIMESTAMP(MICROS) without timezone, which Spark reads natively as
    * TIMESTAMP_NTZ. Normalize both to a session-tz TIMESTAMP — sessions run
    * UTC, so the NTZ cast preserves the wall-clock epoch micros DuckDB sees. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(spark, dir, "events"))
  }

  /** Normalize a raw events `ts` column (int64 nanos or TIMESTAMP_NTZ µs)
    * to TIMESTAMP; shared by the batch and streaming loaders. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType =>
      // the NTZ→TZ cast preserves epoch micros only under a UTC session —
      // enforce it here rather than trusting every entrypoint's builder
      require(df.sparkSession.conf.get("spark.sql.session.timeZone") == "UTC",
        "normalizeTs requires spark.sql.session.timeZone=UTC (the NTZ cast shifts otherwise)")
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Exact decimal sum of a double column (identical in Spark and DuckDB
    * regardless of partial-aggregation order). */
  def dsum(c: Column, scale: Int = 4): Column = sum(c.cast(DecimalType(18, scale)))

  /** Exact decimal product-sum: sum(a*b) with both factors decimal-cast. */
  def dsum2(a: Column, b: Column): Column =
    sum(a.cast(DecimalType(18, 4)) * b.cast(DecimalType(18, 4)))

  /** Final presentation: double rounded to `s` places, signed-zero
    * normalized. Spark's round (BigDecimal HALF_UP) can never emit `-0.0`
    * so the `+ 0.0` is a numeric no-op here — it exists as the visible
    * half of the repo-wide convention (r8 s24: DuckDB's round PRESERVES
    * `-0.0`, value-equal but hash-different under the driver's formatted
    * hash). The enforcement point is mechanical — `Verify.normSignedZero`
    * / `Verify.wrapOracle` normalize every float/double output column on
    * both engines at the gate boundary — so no hand-written oracle can
    * reintroduce the class; SignedZeroSpec pins each path. */
  def outd(c: Column, s: Int = 3): Column = round(c.cast(DoubleType), s) + lit(0.0)

  /** Eagerly materialize a multiply-consumed intermediate.
    *
    * With a checkpoint directory configured (`sc.setCheckpointDir`, the
    * standard knob — point it at durable storage on a real cluster; the
    * bench/driver honor `SPARK_GRAFT_CHECKPOINT_DIR`) this is a RELIABLE
    * checkpoint: blocks survive executor loss, so long jobs under dynamic
    * allocation / node failure recover instead of failing hard. The input
    * is cached across the two checkpoint jobs — a bare `checkpoint(true)`
    * recomputes its RDD when the checkpoint-WRITE job runs (the
    * `RDD.checkpoint` contract), which would re-scan the source twice; with
    * the cache, the write job reads blocks, keeping the source-scan count
    * at one (the invariant PlanShapeSpec pins). The cache is dropped as
    * soon as the checkpoint files exist.
    * Without a checkpoint dir it falls back to `localCheckpoint(eager =
    * true)` — cheapest for bench/local runs, but executor-local: losing an
    * executor loses blocks that lineage can no longer recompute, turning a
    * retryable recompute into a job failure. Production 100 TB runs should
    * set the checkpoint dir; everything here works either way. */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try df.checkpoint(true) finally df.unpersist(false)
    } else df.localCheckpoint(true)
}
