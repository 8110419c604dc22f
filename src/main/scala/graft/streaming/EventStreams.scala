package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

import graft.ops.Tables

/** Structured Streaming surface: windowed aggregation with watermarks over
  * the events table, and a stateful sessionizer
  * (flatMapGroupsWithState) — the streaming counterparts of
  * Relational.q13/q15. Batch parquet drives the stream synchronously in
  * local runs (`processAllAvailable`); in production the same code runs on a
  * live source. */
object EventStreams {

  /** Raw schema of events.parquet with `ts` left abstract — the fixture has
    * shipped both TIMESTAMP(NANOS) (scanned as raw int64 via `nanosAsLong`)
    * and TIMESTAMP(MICROS) (scanned natively as TIMESTAMP_NTZ); the stream
    * loader peeks at the batch footer to declare the matching type. */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Per-JVM cache of the fixture's physical ts type per events glob — the
    * footer peek below is immutable per staged dir, and repeated drives
    * (best-of-N bench, multi-query rounds) otherwise re-pay a batch footer
    * read each run. */
  private[graft] val tsTypeReg =
    graft.core.AtRestRegistry[DataType]("stream.ts_type", arity = 1,
      kind = graft.core.AtRestRegistry.Fixture)

  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a file-stream source needs an explicit schema; take the ts type from a
    // batch read over the SAME glob the stream uses, so staged dirs whose
    // files are named events0/events1.parquet (the e7 bounded-replay drive)
    // resolve just like the fixture's literal events.parquet
    val glob = s"$dir/events*.parquet"
    val tsType = tsTypeReg.getOrBuild(glob) {
      Tables.parquet(spark, glob).schema("ts").dataType
    }
    // glob form: the file-stream source requires a directory basePath
    Tables.normalizeTs(
      spark.readStream.schema(rawSchema(tsType)).parquet(glob))
  }

  /** Hourly tumbling-window counts/sums per event type with a 1-hour
    * watermark. `window()` aligns to epoch hours, so the batch oracle is a
    * date_trunc('hour') group-by. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType), 3).as("sv"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hr"), col("event_type"),
        col("n"), col("sv"))

  /** Root for the drive machinery's scratch files (checkpoints, staged
    * sentinel fixtures): the host's tmpfs when one exists — on a bounded
    * local replay every offset/commit-log fsync and state-store delta file
    * is pure verification machinery, so routing it at RAM instead of disk
    * removes I/O that carries no information. Production deployments set a
    * DURABLE `checkpointLocation` per query (the recovery contract); this
    * root only ever serves the bounded drives. */
  private val FastTmpRoot: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) "/dev/shm" else System.getProperty("java.io.tmpdir")
  }

  /** Run a bounded verification stream with a reduced state-partition
    * count and a tmpfs checkpoint root: a streaming query instantiates one
    * state store per shuffle partition per stateful operator, and on a
    * bounded local drive that fixed machinery (store init + per-batch
    * commit files, each commit an fsync'd file) dominates the actual data
    * work. The partition count and checkpoint live only in this run's
    * fresh checkpoint dir (deleted on exit) — a production deployment
    * keeps its own durable checkpoint and partitioning. */
  private def withFewStatePartitions[A](spark: SparkSession, n: Int)(body: String => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    // the checkpoint root rides into the body and lands on each query as a
    // per-query .option("checkpointLocation", …) — NOT the session-global
    // conf (ADVICE r12: two drives overlapping on one SparkSession would
    // race the conf set/restore, and one run's finally-delete could pull a
    // checkpoint root out from under the other's live query)
    val ck = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(FastTmpRoot), "graft-ckpt").toString
    spark.conf.set(key, n.toString)
    try body(ck) finally {
      spark.conf.set(key, old)
      graft.core.Scratch.delete(ck)
    }
  }

  /** Per-JVM 1-row parquet fixture for [[driveFloorOnce]] — staged once
    * (tmpfs temp dir) and deleted at JVM exit by [[stagedDirReg]]'s
    * shutdown hook. */
  private[graft] val floorFixtureReg =
    graft.core.AtRestRegistry[String]("stream.floor_fixture", arity = 1,
      kind = graft.core.AtRestRegistry.Fixture)

  /** The irreducible cost of ONE bounded stateful drive — state-store
    * init, offset/commit-log machinery, microbatch planning, memory-sink
    * drain — measured with a 1-row file stream through EXACTLY the
    * harness every e-drive uses (same withFewStatePartitions, same
    * checkpoint root, same Update-mode memory sink). The bench reports it
    * as `e0_drive_floor` so every e-query's number can be read as
    * floor + data work — the e-family was re-litigated two rounds
    * running for cost that is drive machinery, not operator work. */
  private[graft] def driveFloorOnce(spark: SparkSession): Unit = {
    val fixture = floorFixtureReg.getOrBuild("floor") {
      val d = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(FastTmpRoot), "graft-floor").toString
      spark.range(1).toDF("id").coalesce(1).write.mode("overwrite").parquet(d)
      d
    }
    val name = s"stream_floor_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val src = spark.readStream
        .schema(StructType(Seq(StructField("id", LongType))))
        .parquet(s"$fixture/*.parquet")
      val q = src.groupBy(col("id")).agg(count(lit(1)).as("n"))
        .writeStream.option("checkpointLocation", ck)
        .outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.catalog.dropTempView(name)
  }

  /** Reduce an Update-mode emission log to each key's FINAL aggregate:
    * `n` (a count) is monotone per key, so `max(struct(n, rest…))` picks the
    * last update — the same reduction e4 uses for session state. This is
    * the production drain shape: Update mode + watermark keeps streaming
    * state bounded (evicted as the watermark passes), where Complete mode
    * would retain every group forever. */
  private def lastUpdate(updates: DataFrame, keys: Seq[String], vals: Seq[String]): DataFrame =
    updates.groupBy(keys.map(col): _*)
      .agg(max(struct(vals.map(col): _*)).as("f"))
      .select(keys.map(col) ++ vals.map(v => col(s"f.$v").as(v)): _*)

  /** Run [[hourlyAgg]] to completion against the batch parquet via the
    * memory sink and return the result table. Used as the `e1_stream_hourly`
    * query so the driver's oracle exercises real streaming execution —
    * Update output mode (bounded state), final values via [[lastUpdate]]. */
  def hourlyAggOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_hourly_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = hourlyAgg(readEventStream(spark, dir))
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("hr", "event_type"), Seq("n", "sv"))
  }

  /** SLIDING-window counts/sums per event type (e12) — the overlapping
    * window shape the tumbling e1 can't express: 2-hour windows sliding
    * hourly, so every event contributes to exactly TWO windows (`window()`
    * with a slide emits one row per covering window, epoch-aligned). The
    * 1-hour watermark bounds state exactly as in e1 — a window's state is
    * evicted once the watermark passes its end, so the overlap factor
    * changes the state constant, not its boundedness. The trailing-rate
    * monitor shape (events/hour over the last 2 h, updated hourly). */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType), 3).as("sv"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("ws"), col("event_type"),
        col("n"), col("sv"))

  /** Run [[slidingAgg]] to completion against the batch parquet (memory
    * sink, Update mode, final values via [[lastUpdate]]) — the
    * `e12_stream_sliding` gate drive. */
  def slidingAggOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sliding_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = slidingAgg(readEventStream(spark, dir))
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("ws", "event_type"), Seq("n", "sv"))
  }

  /** DuckDB oracle twin of [[slidingAggOnce]]: each event is replayed into
    * its two epoch-hour-aligned covering windows (start = floor-hour and
    * floor-hour − 1 h) and aggregated identically. */
  def slidingAggOracleSql: String =
    """WITH x AS (SELECT event_type, value,
      |            date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR AS w0
      |           FROM events CROSS JOIN (VALUES (0), (1)) o(o))
      |SELECT strftime(w0, '%Y-%m-%d %H:%M') AS ws, event_type, count(*) AS n,
      | round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 3) AS sv
      |FROM x GROUP BY strftime(w0, '%Y-%m-%d %H:%M'), event_type""".stripMargin

  /** Streaming windowed ORDER STATISTICS (e21) — per-hour, per-type exact
    * median and p90 of the event value: the latency/size-percentile
    * monitor every live pipeline runs next to its counts (e1). Quantiles
    * are DISCRETE order statistics (element at ⌈n/2⌉ / ⌈9n/10⌉ of the
    * sorted multiset) picked as RAW stored values with zero arithmetic —
    * an interpolating quantile (`percentile_cont`) mixes two doubles with
    * engine-specific expression order and cannot be gated bit-exactly;
    * the discrete pick is deterministic by construction. State per
    * (window, type) is the value multiset via `collect_list`, merged
    * incrementally across micro-batches (ObjectHashAggregate buffers) and
    * evicted by the 1-hour watermark exactly as e1's counters are.
    *
    * Scale note: exact per-window order statistics hold state linear in
    * the window's event count — right for windows up to ~10⁶ events
    * (bounded by rate × 1 h, NOT corpus size, and evicted hourly). Beyond
    * that, swap the multiset for the mergeable KLL/GK sketch exactly as
    * e19 swaps exact distinct for HLL++; the window/watermark/drain
    * machinery here is unchanged. */
  def windowQuantiles(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("value"))).as("vs"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hr"), col("event_type"),
        col("n"),
        element_at(col("vs"), expr("CAST((n + 1) div 2 AS INT)")).as("med"),
        element_at(col("vs"), expr("CAST((9 * n + 9) div 10 AS INT)")).as("p90"))

  /** Run [[windowQuantiles]] to completion (memory sink, Update mode,
    * final values via [[lastUpdate]]) — the `e21_stream_quantiles` drive. */
  def windowQuantilesOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_quantiles_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = windowQuantiles(readEventStream(spark, dir))
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("hr", "event_type"), Seq("n", "med", "p90"))
  }

  /** DuckDB oracle twin of [[windowQuantilesOnce]]: the same epoch-hour
    * windows, sorted value lists, and 1-based discrete index picks. */
  def windowQuantilesOracleSql: String =
    """WITH g AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hr,
      |            event_type, count(*) AS n, list_sort(list(value)) AS vs
      |           FROM events GROUP BY 1, 2)
      |SELECT hr, event_type, CAST(n AS BIGINT) AS n,
      | vs[CAST((n + 1) // 2 AS INT)] AS med,
      | vs[CAST((9 * n + 9) // 10 AS INT)] AS p90
      |FROM g""".stripMargin

  /** Streaming rate-anomaly detection (e13) — the live traffic monitor: a
    * per-type hourly-rate PROFILE (mean/std of hourly counts) is fitted
    * from the at-rest history and broadcast; each streaming event enriches
    * with its type's profile BEFORE the windowed aggregation (stream-static
    * join pre-agg, the only join order a streaming agg admits), and the
    * hourly count emerges z-scored against the profile. Zero extra
    * streaming state vs e1 — the "memory" of normal traffic lives at rest,
    * the e9 design principle applied to monitoring. Watermark bounds the
    * windowed state as in e1; the profile refreshes by restarting the
    * query on a new fit (the standard model-rollover pattern).
    *
    * Cross-engine: mean/std are computed from exact integer sums with one
    * shared formula (sample variance via s2 − s1²/c over c−1), so both
    * engines evaluate identical doubles; z rounds to 4. */
  def rateAnomaly(spark: SparkSession, dir: String, events: DataFrame): DataFrame = {
    val batchHourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val stats = batchHourly.groupBy(col("event_type"))
      .agg(sum(col("n")).cast(DoubleType).as("s1"),
        sum(col("n") * col("n")).cast(DoubleType).as("s2"),
        count(lit(1)).cast(DoubleType).as("c"))
      .select(col("event_type"), (col("s1") / col("c")).as("mu"),
        sqrt((col("s2") - col("s1") * col("s1") / col("c")) / (col("c") - 1)).as("sg"))
    events
      .join(broadcast(stats), Seq("event_type"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("mu")).as("mu"), max(col("sg")).as("sg"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hr"), col("event_type"),
        col("n"), round((col("n") - col("mu")) / col("sg"), 4).as("z"))
  }

  /** Run [[rateAnomaly]] to completion against the batch parquet — the
    * `e13_stream_anomaly` gate drive. */
  def rateAnomalyOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_anomaly_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = rateAnomaly(spark, dir, readEventStream(spark, dir))
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("hr", "event_type"), Seq("n", "z"))
  }

  /** DuckDB oracle twin of [[rateAnomalyOnce]] — same hourly counts, same
    * profile formula, same z rounding. */
  def rateAnomalyOracleSql: String =
    """WITH h AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hr,
      |            event_type, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      | st AS (SELECT event_type, CAST(sum(n) AS DOUBLE) AS s1,
      |         CAST(sum(n * n) AS DOUBLE) AS s2, CAST(count(*) AS DOUBLE) AS c
      |        FROM h GROUP BY 1)
      |SELECT h.hr, h.event_type, h.n,
      | round((h.n - st.s1 / st.c) /
      |       sqrt((st.s2 - st.s1 * st.s1 / st.c) / (st.c - 1)), 4) AS z
      |FROM h JOIN st USING (event_type)""".stripMargin

  /** Streaming dedup under the oracle gate: the event stream unioned with
    * itself (every id duplicated) must collapse back to the distinct ids
    * through `dropDuplicatesWithinWatermark` — the state-bounded dedup
    * (state evicted once the watermark passes), i.e. the form that survives
    * an unbounded stream. The oracle is the batch count(DISTINCT event_id)
    * per type: it can only match if the dedup actually collapsed the
    * doubled input. */
  def dedupCountsOnce(spark: SparkSession, dir: String): DataFrame = {
    val doubled = readEventStream(spark, dir).union(readEventStream(spark, dir))
    val deduped = doubled
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = s"stream_dedup_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = deduped.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("event_type"), Seq("n"))
  }

  /** Stream-static enrichment under the oracle gate: the event stream joined
    * to the (broadcast) static customer dimension — the canonical streaming
    * enrichment shape: the static side is planned once, the stream side never
    * shuffles for the join, and no join state accumulates (unlike
    * stream-stream joins). Aggregated per (segment, event_type) so the batch
    * SQL twin can hash-check the result. */
  def enrichedAggOnce(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.parquet(spark, s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = readEventStream(spark, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType), 3).as("sv"))
    val name = s"stream_enrich_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = agg.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("segment", "event_type"), Seq("n", "sv"))
  }

  /** DuckDB oracle twin of [[enrichedAggOnce]] (batch ≡ fully-drained
    * stream; same decimal-sum discipline as the e1 oracle). */
  def enrichedAggOracleSql: String =
    """SELECT c.c_mktsegment AS segment, e.event_type,
      | count(*) AS n,
      | round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 3) AS sv
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** Raw schema of documents.parquet for the corpus-ingestion stream. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming CORPUS ingestion (e8) — the real-time form of the d1/d7
    * batch dedup: documents arrive as a stream, get content-hashed,
    * exact-deduped with BOUNDED state (`dropDuplicatesWithinWatermark` on
    * the md5 — state evicted as the ingest-time watermark passes, the only
    * dedup that survives an unbounded feed), quality-filtered, and folded
    * into running per-band corpus stats. The drive doubles the stream
    * (union with itself) so the gate can only pass if the dedup actually
    * collapsed every duplicate.
    *
    * Ingest time is synthesized from doc_id (deterministic bounded drive);
    * a production feed carries its own arrival time. The aggregate groups
    * by a TEXT-derived key (length band) and sums text-derived quantities
    * only, so the result is invariant to WHICH copy of a duplicate
    * survives — the property that makes the oracle exact. */
  def corpusIngestOnce(spark: SparkSession, dir: String): DataFrame = {
    def docStream = spark.readStream.schema(docSchema)
      .parquet(s"$dir/documents*.parquet")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(3600))))
    val staged = docStream.union(docStream)
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .withColumn("n_tok", size(split(col("text"), "\\s+")).cast(LongType))
      .filter(col("n_tok") >= 5)
      .groupBy(floor(length(col("text")) / 500).cast(IntegerType).as("band"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok_sum"))
    val name = s"stream_corpus_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = staged.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("band"), Seq("n", "tok_sum"))
  }

  /** Streaming maintenance of the AT-REST dedup index (e14) — the ingest
    * side that d7/d8/e9 presuppose: those operators PROBE a standing hash
    * index "appended by the ingest path"; this is that path. The corpus
    * (non-delta) hashes seed the index at rest; the delta then arrives as
    * a STREAM and each micro-batch upserts via `foreachBatch`: batch
    * hashes dedup within the batch, anti-join the index AS OF that batch
    * (foreachBatch runs batches sequentially, so batch N sees N−1's
    * appends), and append only the novel ones. State lives in the index
    * files, not the state store — zero streaming state, the e9 principle
    * on the WRITE side. The gate folds the FINAL index to per-prefix
    * counts; it equals the corpus-wide distinct hash set only if seeding,
    * batch dedup, the as-of anti-join, and the appends all composed
    * correctly. (Production hardening: write per-batchId subdirs for
    * idempotent retries; the bounded local drive has no retries.) */
  def indexMaintainOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{Dedup, Tables}
    val ixDir = graft.core.Scratch.dir("graft-e14-ix")
    Tables.t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(Dedup.DeltaMod)) =!= 0)
      .select(md5(col("text")).as("h")).distinct()
      .write.mode("overwrite").parquet(ixDir)
    val delta = spark.readStream.schema(docSchema)
      .parquet(s"$dir/documents*.parquet")
      .filter(pmod(col("doc_id"), lit(Dedup.DeltaMod)) === 0)
      .select(md5(col("text")).as("h"))
    val name = s"stream_ixmaint_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = delta.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val sp = batch.sparkSession
          batch.distinct()
            .join(Tables.parquet(sp, ixDir), Seq("h"), "left_anti")
            .write.mode("append").parquet(ixDir)
        }
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    Tables.parquet(spark, ixDir)
      .groupBy(substring(col("h"), 1, 1).as("pfx"))
      .agg(count(lit(1)).as("n"))
  }

  /** Streaming dual-sink routing (e15) — the dead-letter/bifurcation WRITE
    * pattern that operationalizes e11's verdicts: each arriving document
    * is quality-judged row-locally (the SAME t16 rule set) and every
    * micro-batch lands in TWO durable destinations — accepted docs to the
    * keep sink, rejected docs to the quarantine sink (kept for audit and
    * rule tuning, never silently dropped). `foreachBatch` persists the
    * judged batch once and writes both partitions from it, so the rules
    * run once per row, not once per sink; zero streaming state (the e9
    * property — the verdict needs no history). The gate re-reads BOTH
    * sinks and folds a per-(sink, source) admission report whose oracle
    * is the batch t16 replay: the split must be exhaustive and exclusive
    * or the counts can't reconcile. (Production hardening, as e14: write
    * per-batchId subdirs so a retried batch overwrites instead of
    * double-appending.) */
  def dualSinkOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val keepDir = graft.core.Scratch.dir("graft-e15-keep")
    val rejDir = graft.core.Scratch.dir("graft-e15-rej")
    val stream = spark.readStream.schema(docSchema).parquet(s"$dir/documents*.parquet")
    val flagged = TextOps.gopherRules(TextOps.withSyntheticLines(stream))
      .select(col("doc_id"), col("keep"))
    val name = s"stream_dualsink_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = flagged.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.persist()
          try {
            batch.filter(col("keep")).select(col("doc_id"))
              .write.mode("append").parquet(keepDir)
            batch.filter(!col("keep")).select(col("doc_id"))
              .write.mode("append").parquet(rejDir)
          } finally { batch.unpersist(); () }
        }
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    val src = Tables.parquet(spark, s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    // explicit schema: an empty sink dir must read as zero rows, not fail
    val keep = spark.read.schema("doc_id LONG").parquet(keepDir)
      .withColumn("sink", lit("keep"))
    val rej = spark.read.schema("doc_id LONG").parquet(rejDir)
      .withColumn("sink", lit("reject"))
    keep.unionByName(rej).join(broadcast(src), Seq("doc_id"))
      .groupBy(col("sink"), col("source")).agg(count(lit(1)).as("n"))
  }

  /** Streaming approximate distinct users (e19) — the sketch path q17
    * proves for batch, run where it matters most: a STREAMING
    * `approx_count_distinct` (HyperLogLog++) per hourly window, the
    * constant-state alternative to exact streaming distinct (whose state
    * grows with cardinality — at 100 TB feed volume the sketch's fixed
    * few-KB-per-window state is the only viable shape). Like q17, no
    * cross-engine value oracle can exist for a sketch, so the gate
    * checks the claim the operator actually makes: the streamed estimate
    * lands within the HLL++ error envelope of the exact per-window count
    * (computed batch-side in the same drive), hash-checked as
    * `within_bound` against a trivially-true oracle column. */
  def approxUsersOnce(spark: SparkSession, dir: String): DataFrame = {
    val ev = readEventStream(spark, dir)
      .select(col("ts"), col("user_id"))
    val agg = ev.groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id")).as("apx"))
      .select(unix_timestamp(col("window.start")).as("hr"), col("apx"))
    val name = s"stream_apxusers_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = agg.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    val streamed = lastUpdate(spark.table(name), Seq("hr"), Seq("apx"))
    val exact = Tables.events(spark, dir)
      .groupBy(expr("unix_timestamp(ts) DIV 3600 * 3600").as("hr"))
      .agg(count_distinct(col("user_id")).as("n_exact"))
    streamed.join(exact, Seq("hr"))
      .select(col("hr"), col("n_exact"),
        // envelope sized for SMALL windows too: default rsd 0.05 → ~15%
        // at 3σ, plus an absolute ±3 floor where 10% of a 16-user hour
        // would demand sub-integer accuracy of a sketch
        (abs(col("apx") - col("n_exact")) <=
          greatest(lit(3.0), col("n_exact") * 0.15)).as("within_bound"))
  }

  /** DuckDB oracle twin of [[approxUsersOnce]] — the exact per-window
    * distinct count plus the trivially-true bound column (the q17
    * device: the sketch's CLAIM is gated, not its engine-specific
    * estimate). */
  def approxUsersOracleSql: String =
    """SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 * 3600 AS hr,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      | TRUE AS within_bound
      |FROM events GROUP BY 1""".stripMargin

  /** Streaming AS-OF dimension enrichment (e18) — the composition the
    * q37 SCD-2 history exists FOR: each arriving event joins the
    * dimension row that was valid WHEN IT HAPPENED (stream-static theta
    * join on `valid_from < ts ≤ valid_to` — stateless, the static side
    * broadcastable, exactly how a live pipeline reads a slowly-changing
    * dimension without rewriting history). Here the dimension is the
    * user-state SCD2 built at rest from the event log itself, so the
    * enrichment yields each event's PRIOR state and the report is the
    * state-TRANSITION matrix (prev_type → event_type counts) — first
    * events enrich to 'none' via the left join. Interval tiling (q37's
    * spec-pinned invariant) guarantees exactly one match per event; zero
    * streaming state on the join path, and the only aggregate state is
    * the domain-bounded transition matrix. */
  def asofEnrichOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Relational
    // MATERIALIZE the dimension before the stream starts: a stream-static
    // join re-evaluates its static side EVERY micro-batch, and q37's SCD2
    // build is a shuffle + window over the full event log — recomputing it
    // per batch is wrong at any scale (r9 re-pin measured it as ~40% of the
    // query). A slowly-changing dimension in production is a SNAPSHOT read
    // once per trigger cadence, not a per-batch rebuild.
    val dim = Tables.materialize(Relational.q37_scd2(spark, dir)
      .select(col("user_id"), col("event_type").as("prev_type"),
        col("valid_from"), col("valid_to")))
    val ev = readEventStream(spark, dir)
      .select(col("user_id").as("e_user"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val enriched = ev.join(broadcast(dim),
      col("e_user") === col("user_id") &&
        col("valid_from") < col("us") && col("us") <= col("valid_to"),
      "left_outer")
      .select(coalesce(col("prev_type"), lit("none")).as("prev_type"), col("event_type"))
    val agg = enriched.groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = s"stream_asof_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = agg.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("prev_type", "event_type"), Seq("n"))
  }

  /** DuckDB oracle twin of [[asofEnrichOnce]] — the q37 SCD2 replay
    * joined under the same interval condition, folded to the transition
    * matrix. */
  def asofEnrichOracleSql: String =
    """WITH dim AS (SELECT user_id, event_type AS prev_type,
      |              CAST(epoch_us(ts) AS BIGINT) AS valid_from,
      |              coalesce(lead(CAST(epoch_us(ts) AS BIGINT)) OVER
      |                (PARTITION BY user_id ORDER BY epoch_us(ts), event_id),
      |                9223372036854775807) AS valid_to
      |             FROM events),
      | e AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
      | j AS (SELECT coalesce(dim.prev_type, 'none') AS prev_type, e.event_type
      |       FROM e LEFT JOIN dim ON dim.user_id = e.user_id
      |         AND dim.valid_from < e.us AND e.us <= dim.valid_to)
      |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
      |FROM j GROUP BY 1, 2""".stripMargin

  /** Idempotent per-batch sink (e16) — the exactly-once WRITE discipline
    * e14/e15 document as "production hardening", now implemented and
    * gated: each micro-batch lands in its OWN `batch=<id>` subdirectory
    * with `overwrite` semantics, so a RETRIED batch (fetch failure,
    * executor loss, driver restart replaying from the checkpoint)
    * replaces its previous attempt instead of double-appending — the
    * parquet-sink idempotence rule every foreachBatch pipeline needs.
    * The drive PROVES it: the same bounded stream runs TWICE into the
    * same target (fresh checkpoints → identical deterministic batch ids —
    * a worst-case full replay), and the gate folds the final sink
    * against the ONE-pass batch oracle: any append-instead-of-overwrite
    * doubles every count and fails the hash. Zero streaming state; the
    * sink layout IS the memory. */
  def idempotentSinkOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val sink = graft.core.Scratch.dir("graft-e16-sink")
    def driveOnce(): Unit = {
      val stream = spark.readStream.schema(docSchema).parquet(s"$dir/documents*.parquet")
      val toks = stream.select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
      val name = s"stream_idemsink_${System.nanoTime()}"
      withFewStatePartitions(spark, 4) { ck =>
        val q = toks.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.write.mode("overwrite").parquet(s"$sink/batch=$batchId")
          }
          .queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    driveOnce()
    driveOnce() // the simulated full retry — must be absorbed, not appended
    Tables.parquet(spark, sink)
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok_sum"))
  }

  /** DuckDB oracle twin of [[idempotentSinkOnce]]: the ONE-pass fold — a
    * doubled sink cannot match. */
  def idempotentSinkOracleSql: String =
    """SELECT doc_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS tok_sum
      |FROM documents GROUP BY 1""".stripMargin

  /** DuckDB oracle twin of [[dualSinkOnce]]: the batch t16 replay routed
    * to sink labels — matches only if the split was exhaustive, exclusive,
    * and nothing was lost or duplicated across the two destinations. */
  def dualSinkOracleSql: String =
    s"""WITH g AS (${graft.ops.TextOps.gopherRulesOracleSql()}),
       | j AS (SELECT CASE WHEN g.keep THEN 'keep' ELSE 'reject' END AS sink, d.source
       |       FROM g JOIN documents d USING (doc_id))
       |SELECT sink, source, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2""".stripMargin

  /** DuckDB oracle twin of [[indexMaintainOnce]]: the final index must be
    * exactly the corpus-wide distinct hash set. */
  def indexMaintainOracleSql: String =
    """WITH hs AS (SELECT DISTINCT md5(text) AS h FROM documents)
      |SELECT substr(h, 1, 1) AS pfx, count(*) AS n FROM hs GROUP BY 1""".stripMargin

  /** DuckDB oracle twin of [[corpusIngestOnce]]: distinct texts (the dedup
    * contract), same quality cut, same text-derived banding. */
  def corpusIngestOracleSql: String =
    """WITH u AS (SELECT DISTINCT text FROM documents),
      | q AS (SELECT text, len(string_split_regex(text, '\s+')) AS n_tok FROM u),
      | f AS (SELECT CAST(floor(length(text) / 500) AS INT) AS band, n_tok
      |       FROM q WHERE n_tok >= 5)
      |SELECT band, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(n_tok) AS BIGINT) AS tok_sum
      |FROM f GROUP BY band""".stripMargin

  /** Streaming QUALITY-GATE admission (e11) — curation as an ingest
    * filter, the remaining corner of the streaming-curation story (e8
    * dedups, e9 near-dup-screens, e11 quality-screens): each arriving
    * document gets its Gopher-rule verdict ROW-LOCALLY
    * ([[graft.ops.TextOps.gopherRules]] applied to the stream UNCHANGED —
    * one copy of the rule set serves batch t16 and the stream), is
    * enriched with the static provenance dimension (broadcast
    * stream-static join, the e3 shape), and folds into a per-(source,
    * keep) admission report. The only streaming state is the report
    * aggregate itself, keyed by a DOMAIN-bounded key (sources × 2) —
    * state is constant regardless of feed lifetime, and the verdict path
    * holds zero state (e9's property). */
  def qualityGateOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val stream = spark.readStream.schema(docSchema).parquet(s"$dir/documents*.parquet")
    val flagged = TextOps.gopherRules(TextOps.withSyntheticLines(stream))
      .select(col("doc_id"), col("keep"))
    val src = Tables.parquet(spark, s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val agg = flagged.join(broadcast(src), Seq("doc_id"))
      .groupBy(col("source"), col("keep"))
      .agg(count(lit(1)).as("n"))
    val name = s"stream_qgate_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = agg.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    lastUpdate(spark.table(name), Seq("source", "keep"), Seq("n"))
  }

  /** DuckDB oracle twin of [[qualityGateOnce]]: the t16 injection + rule
    * replay joined to provenance and folded to the same report. */
  def qualityGateOracleSql: String =
    s"""WITH g AS (${graft.ops.TextOps.gopherRulesOracleSql()}),
       | j AS (SELECT d.source, g.keep FROM g JOIN documents d USING (doc_id))
       |SELECT source, keep, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY 1, 2""".stripMargin

  /** The e9 streaming pipeline as an unstarted DataFrame — split from the
    * drive ([[nearDupStreamOnce]], which carries the operator doc) so the
    * spec can start its own query on it and assert
    * `lastProgress.stateOperators` is EMPTY (the zero-state claim,
    * machine-checked in EventStreamsSpec). */
  private[graft] def nearDupStream(spark: SparkSession, dir: String, minJ: Double): DataFrame = {
    import graft.ops.Dedup
    val (cBands, cSets) = Dedup.corpusLshIndex(spark, dir)
    val delta = spark.readStream.schema(docSchema)
      .parquet(s"$dir/documents*.parquet")
      .filter(pmod(col("doc_id"), lit(Dedup.DeltaMod)) === 0)
      .select(col("doc_id"), col("text"))
    val cand = Dedup.rowLocalSigSets(delta)
      .select(col("doc_id").as("delta_id"), col("shs").as("sha"),
        col("sz").as("sza"), explode(col("bands")).as("bd"))
      .join(cBands.as("ix"),
        col("bd.band") === col("ix.band") && col("bd.bh") === col("ix.bh"))
      .select(col("delta_id"), col("ix.doc_id").as("corpus_id"),
        col("sha"), col("sza"))
    Dedup.verifyJaccardInline(cand, cSets, minJ, "delta_id", "corpus_id")
  }

  /** Streaming NEAR-dup ingestion (e9) — d8's incremental MinHash dedup
    * lifted to a live feed, and deliberately STATELESS: each arriving
    * document signs itself row-locally ([[graft.ops.Dedup.rowLocalSigSets]]
    * — shingles, 96 MinHash mins, and 32 band hashes all inside the row,
    * bit-identical to the batch pipeline by spec), its bands probe the
    * corpus LSH index AT REST via a stream-static inner join, and
    * candidates verify with exact Jaccard against the at-rest shingle
    * sets. No watermark, no state store: the "memory" of the corpus lives
    * in the index, not in streaming state, so per-document cost is
    * O(1 + bucket collisions) regardless of feed lifetime — the property
    * that makes near-dup admission control viable on an unbounded stream.
    * A pair that collides in k bands emits k times in append mode
    * (idempotent duplicates, same verified jac); the gate distincts the
    * drained sink, and a production sink would MERGE on the pair key. */
  def nearDupStreamOnce(spark: SparkSession, dir: String, minJ: Double = 0.8): DataFrame = {
    val name = s"stream_neardup_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = nearDupStream(spark, dir, minJ).writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).distinct()
  }

  /** Stream-STREAM interval join under the oracle gate — the attribution
    * shape: each purchase joined to the same user's clicks in the
    * preceding `windowMin` minutes. Both sides are streams with watermarks
    * and the join predicate carries an event-time RANGE over the
    * watermarked columns, so Spark plans a StreamingSymmetricHashJoin
    * whose per-side buffered state is evicted as the watermark passes —
    * bounded state on an unbounded stream, the property that distinguishes
    * this from a stream-static enrich (e3). Joined rows emit append-mode;
    * the gate aggregates pairs per user and the batch twin
    * ([[intervalJoinOracleSql]]) replays the same interval self-join.
    * (Events are µs-grain under both fixture encodings — a NANOS fixture is
    * truncated ns→µs by the stream reader, a MICROS fixture is already
    * µs-native — so the interval boundary comparisons agree with the batch
    * oracle bit-for-bit either way.) */
  def intervalJoinOnce(spark: SparkSession, dir: String, windowMin: Int = 30): DataFrame = {
    val name = s"stream_ivjoin_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val ev = readEventStream(spark, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
        .withWatermark("c_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMin MINUTES") &&
          col("c_ts") <= col("p_ts"))
      val q = joined.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table(name).groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("c_id")).as("n_clicks"),
        count_distinct(col("p_id")).as("n_purchases"))
  }

  /** DuckDB oracle twin of [[intervalJoinOnce]] (batch ≡ fully-drained
    * append stream for an inner join). */
  def intervalJoinOracleSql(windowMin: Int = 30): String =
    s"""SELECT p.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       | CAST(count(DISTINCT c.event_id) AS BIGINT) AS n_clicks,
       | CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_purchases
       |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
       |JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND c.ts >= p.ts - INTERVAL $windowMin MINUTE
       | AND c.ts <= p.ts
       |GROUP BY 1""".stripMargin

  /** LEFT-OUTER stream-stream interval join — the semantics [[intervalJoinOnce]]
    * doesn't cover: purchases with NO qualifying click must still emit,
    * null-padded, and a streaming outer join may only do that once the
    * watermark proves no matching click can still arrive. State eviction is
    * gated by the GLOBAL watermark (min over both sides), so a bounded
    * replay must push both sides' watermarks past the data or the final
    * unmatched rows stay buffered forever: the drive stages the events file
    * plus one far-future sentinel row PER SIDE (user_id −1, filtered from
    * the result) into a temp dir, so the closing no-data micro-batch
    * flushes every real row. Production streams advance watermarks
    * naturally; the sentinel is purely a bounded-replay device.
    * Output: per user, total result rows, matched pairs, unmatched
    * purchases — exactly a batch LEFT JOIN's shape, which is the oracle. */
  /** Stage the events fixture plus far-future SENTINEL rows
    * (2100-01-01, user_id −1 — filtered from every consumer's result)
    * into a temp dir: a bounded replay of an append-mode stateful query
    * only flushes its final state once the watermark passes the data, and
    * the sentinel is what pushes it there. The sentinel file must carry
    * the SAME physical ts encoding as the fixture — the declared stream
    * schema covers both files — so this branches on the fixture's footer
    * type: raw int64 nanos for the NANOS encoding (read via nanosAsLong
    * as LongType), a real TIMESTAMP_NTZ column for the MICROS encoding.
    * `sentinelTypes` gives one sentinel row per entry (e7 needs one per
    * join side; e10 needs one total).
    *
    * Staged dirs are CACHED per (dir, sentinelTypes) for the JVM's
    * lifetime (a shutdown hook deletes them): the staged fixture is an
    * immutable function of its key, and re-copying the events table plus
    * re-running the sentinel write job per drive was the dominant share
    * of the e7/e10/e25 floor (each drive re-paid a file copy + a Spark
    * write + two footer reads for byte-identical output). */
  private[graft] val stagedDirReg =
    graft.core.AtRestRegistry[String]("stream.staged_fixture", arity = 2,
      kind = graft.core.AtRestRegistry.Fixture)
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      (stagedDirReg.values ++ floorFixtureReg.values).foreach(graft.core.Scratch.delete)))
  }

  private def stageWithSentinels(spark: SparkSession, dir: String,
      sentinelTypes: Seq[String]): String =
    stagedDirReg.getOrBuild(dir, sentinelTypes.mkString(",")) {
      stageWithSentinelsUncached(spark, dir, sentinelTypes)
    }

  private def stageWithSentinelsUncached(spark: SparkSession, dir: String,
      sentinelTypes: Seq[String]): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = Files.createTempDirectory(
      Paths.get(FastTmpRoot), "graft-stage").toString
    Files.copy(Paths.get(s"$dir/events.parquet"), Paths.get(s"$stage/events0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val srcTsType = Tables.parquet(spark, s"$dir/events.parquet").schema("ts").dataType
    val farNs = 4102444800L * 1000000000L
    import spark.implicits._
    val sentinelsRaw = sentinelTypes.zipWithIndex.map { case (tpe, i) =>
      (-(i + 1).toLong, farNs, -1L, tpe, 0.0, null.asInstanceOf[String])
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val sentinels = srcTsType match {
      case TimestampNTZType =>
        sentinelsRaw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case _ => sentinelsRaw // LongType: keep raw int64 nanos
    }
    val tmpOut = s"$stage/__sentinel_out"
    sentinels.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val part = new java.io.File(tmpOut).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$stage/events1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    graft.core.Scratch.delete(tmpOut)
    stage
  }

  def leftIntervalJoinOnce(spark: SparkSession, dir: String, windowMin: Int = 30): DataFrame = {
    val stage = stageWithSentinels(spark, dir, Seq("purchase", "click"))
    val name = s"stream_ivjoin_left_${System.nanoTime()}"
    locally {
      withFewStatePartitions(spark, 4) { ck =>
        val ev = readEventStream(spark, stage)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMin MINUTES") &&
            col("c_ts") <= col("p_ts"),
          "left_outer")
        val q = joined.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    spark.table(name)
      .filter(col("p_user") >= 0)
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("c_id")).as("n_matched"),
        sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
  }

  /** DuckDB oracle twin of [[leftIntervalJoinOnce]] (batch LEFT JOIN ≡ a
    * fully-flushed outer stream join). */
  /** FULL-OUTER stream-stream interval join (e25) — the reconciliation
    * variant e6 (inner) and e7 (left) can't express: BOTH sides must
    * surface unmatched (a purchase with no qualifying click is an
    * attribution gap; a click with no purchase is abandoned intent — a
    * funnel needs both at once). Same watermark/state mechanics as e7 —
    * each side buffers only its watermark-bounded window, and an
    * unmatched row emits exactly when the watermark proves no partner can
    * arrive (the e7 sentinel drive advances it deterministically).
    * Output: per user, matched pairs and each side's unmatched counts —
    * the three-way reconciliation ledger. */
  def fullIntervalJoinOnce(spark: SparkSession, dir: String, windowMin: Int = 30): DataFrame = {
    val stage = stageWithSentinels(spark, dir, Seq("purchase", "click"))
    val name = s"stream_ivjoin_full_${System.nanoTime()}"
    locally {
      withFewStatePartitions(spark, 4) { ck =>
        val ev = readEventStream(spark, stage)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
          .withWatermark("p_ts", "1 hour")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
          .withWatermark("c_ts", "1 hour")
        val joined = purchases.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMin MINUTES") &&
            col("c_ts") <= col("p_ts"),
          "full_outer")
        val q = joined.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    spark.table(name)
      .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("p_id"), col("c_id"))
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(sum(when(col("p_id").isNotNull && col("c_id").isNotNull, 1L).otherwise(0L))
        .as("n_matched"),
        sum(when(col("p_id").isNotNull && col("c_id").isNull, 1L).otherwise(0L))
          .as("n_p_unmatched"),
        sum(when(col("p_id").isNull && col("c_id").isNotNull, 1L).otherwise(0L))
          .as("n_c_unmatched"))
  }

  /** DuckDB oracle twin of [[fullIntervalJoinOnce]] — the batch FULL JOIN
    * under the identical interval predicate and per-user ledger. */
  def fullIntervalJoinOracleSql(windowMin: Int = 30): String =
    s"""SELECT coalesce(p.user_id, c.user_id) AS user_id,
       | CAST(sum(CASE WHEN p.event_id IS NOT NULL AND c.event_id IS NOT NULL
       |               THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       | CAST(sum(CASE WHEN p.event_id IS NOT NULL AND c.event_id IS NULL
       |               THEN 1 ELSE 0 END) AS BIGINT) AS n_p_unmatched,
       | CAST(sum(CASE WHEN p.event_id IS NULL AND c.event_id IS NOT NULL
       |               THEN 1 ELSE 0 END) AS BIGINT) AS n_c_unmatched
       |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
       |FULL JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND c.ts >= p.ts - INTERVAL $windowMin MINUTE
       | AND c.ts <= p.ts
       |GROUP BY 1""".stripMargin

  def leftIntervalJoinOracleSql(windowMin: Int = 30): String =
    s"""SELECT p.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_rows,
       | CAST(count(c.event_id) AS BIGINT) AS n_matched,
       | CAST(sum(CASE WHEN c.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
       |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
       |LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
       |  ON p.user_id = c.user_id
       | AND c.ts >= p.ts - INTERVAL $windowMin MINUTE
       | AND c.ts <= p.ts
       |GROUP BY 1""".stripMargin

  /** NATIVE session-window aggregation (e10) — the declarative
    * counterpart of e4/e5's hand-built stateful sessionizers:
    * `session_window(ts, gap)` lets Spark's own streaming state machinery
    * grow/merge sessions (state bounded by the watermark, sessions merge
    * across micro-batches, no user code holds state). The three
    * sessionization forms now cover the full design space: e4
    * transformWithState (arbitrary state), e5 watermark-aware custom fold
    * (event-time ordering under out-of-order input), e10 built-in
    * session_window (the form to reach for FIRST in production).
    *
    * Append mode only emits a session once the watermark proves it can no
    * longer grow, so the bounded replay stages one far-future sentinel
    * ([[stageWithSentinels]], e7's device) to flush the final sessions.
    *
    * Close semantics (and therefore the batch oracle): a session covers
    * [first ts, last ts + gap); an event at EXACTLY last ts + gap starts
    * a NEW session — the batch twin breaks on `ts - prev >= gap`. */
  def sessionWindowOnce(spark: SparkSession, dir: String, gapMin: Int = 30): DataFrame = {
    val stage = stageWithSentinels(spark, dir, Seq("view"))
    val name = s"stream_swin_${System.nanoTime()}"
    locally {
      withFewStatePartitions(spark, 4) { ck =>
        val perSession = readEventStream(spark, stage)
          .withWatermark("ts", "1 hour")
          .groupBy(col("user_id"), session_window(col("ts"), s"$gapMin minutes").as("sw"))
          .agg(count(lit(1)).as("n"))
        val q = perSession.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
    }
    spark.table(name)
      .filter(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("max_len"))
  }

  /** DuckDB oracle twin of [[sessionWindowOnce]]: classic island
    * detection with the SAME close rule (break at `ts - prev >= gap`). */
  def sessionWindowOracleSql(gapMin: Int = 30): String =
    s"""WITH o AS (SELECT user_id, ts, event_id,
       |        CASE WHEN lag(ts) OVER w IS NULL
       |               OR ts - lag(ts) OVER w >= INTERVAL $gapMin MINUTE THEN 1 ELSE 0 END AS brk
       |       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       | s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS UNBOUNDED PRECEDING) AS sid
       |       FROM o),
       | g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       |       CAST(sum(n) AS BIGINT) AS n_events, CAST(max(n) AS BIGINT) AS max_len
       |FROM g GROUP BY 1""".stripMargin

  // ---------------- stateful sessionization ----------------

  final case class Ev(user_id: Long, ts: Timestamp)
  final case class SessionState(sessionCount: Int, eventCount: Int, lastTs: Long)
  final case class UserSessions(user_id: Long, n_sessions: Int, n_events: Int)

  /** [[sessionize]] semantics through Spark 4's `transformWithState`
    * StatefulProcessor — the successor API to flatMapGroupsWithState, with
    * typed per-key state handles (RocksDB-backed; the spec sets the
    * provider). Kept alongside the classic form so both stateful APIs stay
    * exercised.
    *
    * ORDERING ASSUMPTION: events are sorted by ts only WITHIN one
    * `handleInputRows` call. The bounded verification drive delivers all of
    * a user's events in a single micro-batch, so this matches the
    * globally-sorted oracle; a source that splits a user across micro-batches
    * (multiple event files, `maxFilesPerTrigger`, a live stream) can deliver
    * cross-batch out-of-order events, which sessionize differently than the
    * sorted-lag window. Before pointing production traffic here, make the
    * processor watermark-aware: buffer events in a ListState and emit only
    * below the watermark, in event-time order. */
  class SessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, Ev, UserSessions] {
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserSessions] = {
      var s = if (st.exists()) st.get() else SessionState(0, 0, Long.MinValue)
      rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
        val t = e.ts.getTime
        val isStart = s.lastTs == Long.MinValue || t - s.lastTs > gapSeconds * 1000
        s = SessionState(s.sessionCount + (if (isStart) 1 else 0), s.eventCount + 1,
          math.max(s.lastTs, t))
      }
      st.update(s)
      Iterator.single(UserSessions(user, s.sessionCount, s.eventCount))
    }
  }

  def sessionizeTws(events: Dataset[Ev], gapSeconds: Long = 1800): Dataset[UserSessions] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.None(), OutputMode.Update())(Encoders.product[UserSessions])

  /** The PRODUCTION sessionizer: watermark-aware, so cross-batch
    * out-of-order arrival cannot mis-sessionize (the limitation documented
    * on [[SessionProcessor]]). Events buffer in a per-user `ListState`;
    * an event-time timer fires once the watermark advances, and only then
    * are the ripe events (ts ≤ watermark) folded — sorted by event time —
    * into the session state. Events newer than the watermark stay buffered
    * for a later fire; events older than it were already dropped by the
    * watermark operator, so the fold order equals the global event-time
    * order regardless of how micro-batches split the input. State per user
    * is O(buffered-within-watermark) — bounded by the watermark delay, the
    * streaming-native memory contract. */
  class WatermarkSessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, Ev, UserSessions] {
    @transient private var st: ValueState[SessionState] = _
    @transient private var pending: ListState[Ev] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)
      pending = getHandle.getListState[Ev]("pending",
        Encoders.product[Ev], TTLConfig.NONE)
    }

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserSessions] = {
      rows.foreach(pending.appendValue)
      // fire as soon as the watermark next advances past this batch's
      getHandle.registerTimer(timers.getCurrentWatermarkInMs() + 1)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[UserSessions] = {
      val wm = timers.getCurrentWatermarkInMs()
      val (ripe, future) = pending.get().toSeq.partition(_.ts.getTime <= wm)
      if (future.isEmpty) pending.clear() else pending.put(future.toArray)
      if (future.nonEmpty) getHandle.registerTimer(wm + 1)
      if (ripe.isEmpty) Iterator.empty
      else {
        var s = if (st.exists()) st.get() else SessionState(0, 0, Long.MinValue)
        ripe.sortBy(_.ts.getTime).foreach { e =>
          val t = e.ts.getTime
          val isStart = s.lastTs == Long.MinValue || t - s.lastTs > gapSeconds * 1000
          s = SessionState(s.sessionCount + (if (isStart) 1 else 0), s.eventCount + 1,
            math.max(s.lastTs, t))
        }
        st.update(s)
        Iterator.single(UserSessions(user, s.sessionCount, s.eventCount))
      }
    }
  }

  /** [[WatermarkSessionProcessor]] as a transform; the input Dataset must
    * carry a `withWatermark` on `ts` (event-time timers require it). */
  def sessionizeWm(events: Dataset[Ev], gapSeconds: Long = 1800): Dataset[UserSessions] =
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new WatermarkSessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Update())(Encoders.product[UserSessions])

  /** [[sessionizeWm]] under the oracle gate. A zero-second watermark delay
    * makes the bounded drive exact: after the last data batch the watermark
    * reaches max(ts), the no-data micro-batch fires every pending timer,
    * and all buffered events fold — so the emitted final states cover the
    * whole table and the e4 oracle applies unchanged. (The parquet arrives
    * as ONE file ⇒ one data batch ⇒ delay 0 drops nothing; a multi-file
    * production drive would use a real delay.) */
  def sessionizeWmOnce(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc = Encoders.product[Ev]
    // transformWithState needs multi-column-family state → RocksDB provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = s"stream_sessions_wm_${System.nanoTime()}"
    try {
      withFewStatePartitions(spark, 4) { ck =>
        val evs = readEventStream(spark, dir)
          .select(col("user_id"), col("ts"))
          .withWatermark("ts", "0 seconds")
          .as[Ev]
        val q = sessionizeWm(evs).toDF()
          .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    lastUpdate(spark.table(name), Seq("user_id"), Seq("n_events", "n_sessions"))
      .select(col("user_id"),
        col("n_sessions").cast(LongType).as("n_sessions"),
        col("n_events").cast(LongType).as("n_events"))
  }

  /** [[sessionizeTws]] under the oracle gate: drain the event stream through
    * the StatefulProcessor (RocksDB state store), then reduce the
    * Update-mode emissions to each user's final state — `n_events` is
    * monotone per user, so `max(struct(n_events, n_sessions))` is the last
    * update. The oracle recomputes per-user 30-min-gap session counts with
    * a lag window; it can only match if the keyed state machinery actually
    * sessionized the whole stream. (The processor compares `getTime`
    * MILLISECONDS, so the oracle's gap predicate runs on `epoch_ms` — not
    * on the µs/ns timestamp — to be truncation-faithful.)
    *
    * [[SessionProcessor]]'s within-batch-sorted contract is ASSERTED here,
    * not assumed: the drive requires exactly one Update emission per user
    * (one parquet file ⇒ one data micro-batch ⇒ every user's events arrive
    * in a single sorted `handleInputRows` call). A source configuration
    * that split a user across micro-batches — more files,
    * `maxFilesPerTrigger`, a live stream — would emit that user twice and
    * fail THIS require loudly instead of silently mis-sessionizing;
    * cross-batch arrival is [[sessionizeWmOnce]]'s (e5's) contract. */
  def sessionizeTwsOnce(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc = Encoders.product[Ev]
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = s"stream_sessions_${System.nanoTime()}"
    try {
      withFewStatePartitions(spark, 4) { ck =>
        val evs = readEventStream(spark, dir).select(col("user_id"), col("ts")).as[Ev]
        val q = sessionizeTws(evs).toDF()
          .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val emitted = spark.table(name)
    // coalesce: zero emissions (empty events input) is a valid drive —
    // max over no groups is NULL, not a contract violation
    val maxEmissions = emitted.groupBy(col("user_id")).count()
      .agg(coalesce(max(col("count")), lit(0L))).collect().head.getLong(0)
    require(maxEmissions <= 1,
      s"sessionizeTws drive: a user emitted $maxEmissions updates — the source split " +
        "a user across micro-batches, violating the single-batch ordering contract; " +
        "use sessionizeWm (e5) for cross-batch arrival")
    emitted.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("f"))
      .select(col("user_id"),
        col("f.n_sessions").cast(LongType).as("n_sessions"),
        col("f.n_events").cast(LongType).as("n_events"))
  }

  /** DuckDB oracle twin of [[sessionizeTwsOnce]] (ms-truncated gap — see
    * scaladoc above). */
  def sessionizeTwsOracleSql(gapSeconds: Long = 1800): String =
    s"""SELECT user_id, CAST(sum(st) AS BIGINT) AS n_sessions,
       | CAST(count(*) AS BIGINT) AS n_events FROM (
       | SELECT user_id,
       |  CASE WHEN prev IS NULL OR epoch_ms(ts) - epoch_ms(prev) > ${gapSeconds * 1000} THEN 1 ELSE 0 END AS st
       | FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
       |       FROM events) l) s
       |GROUP BY user_id""".stripMargin

  final case class HeartState(nEvents: Long, lastTs: Long, maxGapMs: Long, nOver: Long)
  final case class UserHeartbeat(user_id: Long, n_events: Long, max_gap_s: Long, n_over: Long)

  final case class RlEv(user_id: Long, ts: Timestamp, event_id: Long)
  final case class RlState(hour: Long, inHour: Long, kept: Long, dropped: Long)
  final case class UserRate(user_id: Long, n_kept: Long, n_dropped: Long)

  /** Streaming per-user RATE LIMITING (e26) — the spam/abuse cap a feed
    * pipeline enforces at ingest (an unthrottled producer poisons both
    * dedup statistics and per-user quotas downstream): at most `cap`
    * events per user per epoch hour pass; the rest count as dropped. Keyed
    * state is O(1) per user — (current hour, count in hour, running
    * totals) — the e22 explicit-state shape; events process in (ts,
    * event_id) order within the batch, so "first `cap` of the hour" is
    * deterministic. Update-mode emissions drain via the final-value
    * reduction; the e22 single-batch ordering guard applies (a multi-batch
    * deployment orders by event time within each watermark-closed batch —
    * the cap rule is identical). */
  def rateLimit(events: Dataset[RlEv], cap: Long = 3): Dataset[UserRate] = {
    implicit val outEnc = Encoders.product[UserRate]
    implicit val stEnc = Encoders.product[RlState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[RlState, UserRate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[RlEv], state: GroupState[RlState]) =>
          var st = state.getOption.getOrElse(RlState(Long.MinValue, 0, 0, 0))
          evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val hr = e.ts.getTime / 3600000L
            if (hr != st.hour) st = st.copy(hour = hr, inHour = 0)
            if (st.inHour < cap) st = st.copy(inHour = st.inHour + 1, kept = st.kept + 1)
            else st = st.copy(dropped = st.dropped + 1)
          }
          state.update(st)
          Iterator.single(UserRate(user, st.kept, st.dropped))
      }
  }

  /** Run [[rateLimit]] to completion (memory sink, Update mode, final
    * values via [[lastUpdate]]) — the `e26_stream_ratelimit` drive, with
    * e22's single-batch ordering guard. */
  def rateLimitOnce(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc = Encoders.product[RlEv]
    val name = s"stream_ratelimit_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val evs = readEventStream(spark, dir)
        .select(col("user_id"), col("ts"), col("event_id")).as[RlEv]
      val q = rateLimit(evs).toDF()
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    val emitted = spark.table(name)
    val maxEmissions = emitted.groupBy(col("user_id")).count()
      .agg(coalesce(max(col("count")), lit(0L)).as("m")).collect().head.getLong(0)
    require(maxEmissions <= 1,
      s"ratelimit drive: a user emitted $maxEmissions updates — the source split " +
        "a user across micro-batches, violating the single-batch ordering contract")
    lastUpdate(emitted, Seq("user_id"), Seq("n_kept", "n_dropped"))
  }

  /** DuckDB oracle twin of [[rateLimitOnce]] — rank within (user, epoch
    * hour) by (ts, event_id); kept = rank ≤ cap. */
  def rateLimitOracleSql(cap: Long = 3): String =
    s"""WITH r AS (SELECT user_id,
       |            row_number() OVER (
       |              PARTITION BY user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600
       |              ORDER BY ts, event_id) AS rn
       |           FROM events)
       |SELECT user_id,
       | CAST(sum(CASE WHEN rn <= $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | CAST(sum(CASE WHEN rn > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |FROM r GROUP BY user_id""".stripMargin

  /** Streaming heartbeat / liveness monitor (e22) — per source (user), the
    * largest inter-event gap seen and how many gaps exceeded the alert
    * threshold: the upstream-feed health check every ingestion pipeline
    * runs (a sensor, crawler shard, or log shipper that goes quiet shows
    * up as a growing max gap long before its absence distorts downstream
    * aggregates). Explicit keyed state, O(1) per source: last-seen
    * timestamp + three counters — the e4 state-machine shape with a gap
    * ACCUMULATOR instead of a session counter. Same single-batch ordering
    * contract as e4 (the drive enforces it; e5's watermark buffer is the
    * cross-batch-arrival variant). `max_gap_s` truncates AFTER the max so
    * the comparison happens on exact milliseconds. */
  def heartbeat(events: Dataset[Ev], alertSeconds: Long = 172800): Dataset[UserHeartbeat] = {
    implicit val outEnc = Encoders.product[UserHeartbeat]
    implicit val stEnc = Encoders.product[HeartState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[HeartState, UserHeartbeat](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[HeartState]) =>
          var st = state.getOption.getOrElse(HeartState(0, Long.MinValue, 0, 0))
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            if (st.lastTs != Long.MinValue && t > st.lastTs) {
              val gap = t - st.lastTs
              st = st.copy(maxGapMs = math.max(st.maxGapMs, gap),
                nOver = st.nOver + (if (gap > alertSeconds * 1000) 1 else 0))
            }
            st = st.copy(nEvents = st.nEvents + 1, lastTs = math.max(st.lastTs, t))
          }
          state.update(st)
          Iterator.single(UserHeartbeat(user, st.nEvents, st.maxGapMs / 1000, st.nOver))
      }
  }

  /** Run [[heartbeat]] to completion (memory sink, Update mode, final
    * values via [[lastUpdate]]) — the `e22_stream_heartbeat` drive, with
    * e4's single-batch ordering guard. */
  def heartbeatOnce(spark: SparkSession, dir: String): DataFrame = {
    implicit val evEnc = Encoders.product[Ev]
    val name = s"stream_heartbeat_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val evs = readEventStream(spark, dir).select(col("user_id"), col("ts")).as[Ev]
      val q = heartbeat(evs).toDF()
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    val emitted = spark.table(name)
    val maxEmissions = emitted.groupBy(col("user_id")).count()
      .agg(coalesce(max(col("count")), lit(0L))).collect().head.getLong(0)
    require(maxEmissions <= 1,
      s"heartbeat drive: a user emitted $maxEmissions updates — the source split " +
        "a user across micro-batches, violating the single-batch ordering contract")
    lastUpdate(emitted, Seq("user_id"), Seq("n_events", "max_gap_s", "n_over"))
  }

  /** DuckDB oracle twin of [[heartbeatOnce]] — consecutive-gap lag diffs
    * per user, max truncated to seconds AFTER the fold, threshold compared
    * on exact milliseconds. */
  def heartbeatOracleSql(alertSeconds: Long = 172800): String =
    s"""WITH g AS (SELECT user_id,
       |            epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS d
       |           FROM events)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       | CAST(coalesce(max(d), 0) // 1000 AS BIGINT) AS max_gap_s,
       | CAST(coalesce(sum(CASE WHEN d > ${alertSeconds * 1000} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_over
       |FROM g GROUP BY user_id""".stripMargin

  /** Streaming windowed TOP-K (e23) — the live "trending now" board: the
    * STREAM maintains only the per-(window, type) counters (exactly e1's
    * watermark-bounded state — k plays no part in what streams), and the
    * rank is computed AT SERVE TIME over the drained final aggregates,
    * top-3 per hour by (count desc, type). This split is the production
    * shape for streaming top-k: rank is not incrementally maintainable
    * under Update mode (a late event can reorder an entire window's board),
    * so pushing it into the stream would force Complete mode's unbounded
    * state — the serving layer ranks the tiny aggregate-grain relation
    * instead, and WindowGroupLimit keeps even that rank pre-limited inside
    * its exchange. */
  def windowTopkOnce(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val name = s"stream_topk_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = hourlyAgg(readEventStream(spark, dir))
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    val finals = lastUpdate(spark.table(name), Seq("hr", "event_type"), Seq("n", "sv"))
    val w = Window.partitionBy(col("hr")).orderBy(col("n").desc, col("event_type"))
    finals.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("hr"), col("event_type"), col("n"), col("rnk"))
  }

  /** DuckDB oracle twin of [[windowTopkOnce]] — the batch fold of the same
    * epoch-hour windows, ranked identically. */
  def windowTopkOracleSql(k: Int = 3): String =
    s"""WITH g AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hr,
       |            event_type, count(*) AS n
       |           FROM events GROUP BY 1, 2),
       | r AS (SELECT hr, event_type, n,
       |        row_number() OVER (PARTITION BY hr ORDER BY n DESC, event_type) AS rnk
       |       FROM g)
       |SELECT hr, event_type, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= $k""".stripMargin

  /** Shared 8-bin value binning for e24 (width 16, top bin open). */
  private def psiBinSql(v: String): String =
    s"least(7, CAST(floor(($v) / 16) AS INT))"

  /** The e24 PSI arithmetic over pivoted bin counts `c0..c7`/`nd` against
    * profile counts `p0..p7`/`pn`, Laplace-smoothed, as ONE fixed
    * left-associated expression chain — a row-local double fold in source
    * order, identical in both engines (a SQL SUM over term rows would be
    * partial-aggregation-order sensitive; this is the t20 plain-double
    * discipline applied to an 8-term reduction).
    *
    * The log factor comes from `l0..l7`, NOT from an inline `ln`: ln is a
    * transcendental with NO cross-engine contract — IEEE 754 does not
    * require it correctly rounded, and the JVM's `Math.log` and DuckDB's
    * libm `log` really do differ in the last ulp, which flips a 4-decimal
    * rounding whenever a day lands on a boundary (observed at sf0.1, day
    * 19736: raw PSI 6.38495±ulp → 6.3849 vs 6.385 across engines). The
    * engine therefore dumps its log terms as an ARTIFACT (the centroid/
    * BPE fit discipline applied to transcendentals) and BOTH engines fold
    * the same `l` doubles; every rational part — counts, smoothing,
    * differences, products, the 8-term sum — stays independently
    * recomputed and verified by the oracle. */
  private[streaming] def psiChainSql: String = {
    (0 until 8).map(i => s"(${psiQSql(i)} - ${psiPSql(i)}) * l$i").mkString(" + ")
  }

  /** The smoothed-ratio building blocks of the PSI chain, shared by the
    * engine exprs and both oracle replays. The `CAST(… AS DOUBLE)` on the
    * literals is LOAD-BEARING: a bare `1.0` parses as DECIMAL in Spark but
    * divides as DOUBLE in DuckDB, and Spark's decimal division silently
    * HALF_UPs the quotient to scale 6 — so the two engines were feeding
    * ln() ratios that differ in the 7th digit (caught by the r12 oracle
    * term check, ADVICE r11; the dump had been absorbing the divergence).
    * With double literals every step is the same correctly-rounded IEEE
    * op in both engines and only ln's last ulp remains engine-specific —
    * the one thing the dump exists to carry. */
  private def psiQSql(i: Int) =
    s"((c$i + CAST(1.0 AS DOUBLE)) / (nd + CAST(8.0 AS DOUBLE)))"
  private def psiPSql(i: Int) =
    s"((p$i + CAST(1.0 AS DOUBLE)) / (pn + CAST(8.0 AS DOUBLE)))"

  /** The inline log-term expressions the ENGINE computes (and dumps):
    * `l_i = ln(q_i / p_i)` over the same smoothed ratios. */
  private def psiLogExprs: Seq[String] =
    (0 until 8).map(i => s"ln(${psiQSql(i)} / ${psiPSql(i)}) AS l$i")

  /** Where the most recent [[psiDriftOnce]] dumped its per-day log terms
    * (per-dir; the q33/q36 dirToken convention). */
  @volatile private[graft] var E24LogDump: String = ""

  /** Streaming DISTRIBUTION-drift monitor (e24) — the Population
    * Stability Index check a feature pipeline runs next to its rate
    * monitor (e13 catches "traffic changed volume"; this catches "values
    * changed shape at the same volume" — an upstream unit change, a new
    * client version, a sensor recalibration): the at-rest history fits an
    * 8-bin value PROFILE (the e13 fit-at-rest principle — zero extra
    * streaming state); the stream maintains only per-(day, bin) counters
    * (watermark-bounded, e1 class); at serve time each drained day pivots
    * to a dense bin vector and scores
    * `PSI = Σ (qᵢ−pᵢ)·ln(qᵢ/pᵢ)` (Laplace-smoothed) against the profile.
    * The alarm sits at 1.0 — far above the textbook 0.2 because the
    * smallest fixture runs ~33 events/day, where smoothed sampling noise
    * alone reaches ~0.25 (at production day volumes the same code alarms
    * at 0.2). Drift is PROVEN by injection: every 7th day's values shift
    * by +80 (five bin widths — a pure function of the epoch day replayed
    * by the oracle); natural days score ≤ ~0.25 at any fixture scale and
    * the shifted days ≥ ~2, so the alarm fires exactly on them. */
  def psiDriftOnce(spark: SparkSession, dir: String): DataFrame = {
    val name = s"stream_psi_${System.nanoTime()}"
    val injected = s"value + (CASE WHEN (unix_timestamp(ts) DIV 86400) % 7 = 3 THEN 80 ELSE 0 END)"
    withFewStatePartitions(spark, 4) { ck =>
      val q = readEventStream(spark, dir)
        .select(col("ts"), expr(psiBinSql(injected)).as("b"))
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day").as("w"), col("b"))
        .agg(count(lit(1)).as("n"))
        .select(expr("unix_timestamp(w.start) DIV 86400").as("d"), col("b"), col("n"))
        .writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update).format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    val finals = lastUpdate(spark.table(name), Seq("d", "b"), Seq("n"))
    val profile = Tables.events(spark, dir)
      .select(expr(psiBinSql("value")).as("b"))
      .agg(count(lit(1)).as("pn"),
        (0 until 8).map(i => coalesce(sum(when(col("b") === i, 1L)), lit(0L)).as(s"p$i")): _*)
    val days = finals.groupBy(col("d"))
      .agg(sum(col("n")).as("nd"),
        (0 until 8).map(i => coalesce(sum(when(col("b") === i, col("n"))), lit(0L)).as(s"c$i")): _*)
    // materialize the joined day×profile relation: the log-term dump and
    // the scored result must see the SAME rows, and the dump is what makes
    // the transcendental cross-engine-safe (see psiChainSql scaladoc)
    val joined = Tables.materialize(
      days.crossJoin(broadcast(profile))
        .selectExpr(Seq("d", "nd") ++ (0 until 8).map(i => s"c$i") ++
          Seq("pn") ++ (0 until 8).map(i => s"p$i") ++ psiLogExprs: _*))
    val dump = s"${graft.ops.Similarity.OracleDumpRoot}/e24_logs_${graft.ops.Similarity.dirToken(dir)}"
    joined.select(col("d") +: (0 until 8).map(i => col(s"l$i")): _*)
      .write.mode("overwrite").parquet(dump)
    E24LogDump = dump
    joined
      .select(col("d"), col("nd"),
        expr(s"round($psiChainSql, 4) + 0.0").as("psi"),
        expr(s"round($psiChainSql, 4) > 1.0").as("drifted"))
  }

  /** DuckDB oracle twin of [[psiDriftOnce]] — batch fold of the same
    * injected binning, dense pivot, profile attach, and PSI chain; the
    * transcendental log terms come from the engine's dump (see
    * [[psiChainSql]] — every rational step is still independently
    * recomputed and verified here). Each dumped term is additionally
    * CHECKED against the oracle's own `ln(qᵢ/pᵢ)` within 1e-9 (ADVICE
    * r11: the fold stays on the dumped doubles for bit-equality, but a
    * wrong engine-side log — bad smoothing, swapped ratio — now poisons
    * the term by +1e9 and fails the hash instead of reproducing
    * identically in both engines; last-ulp libm disagreement, the reason
    * the dump exists, sits ~7 orders below the tolerance). */
  def psiDriftOracleSql: String = {
    def cs(pre: String) = (0 until 8)
      .map(i => s"sum(CASE WHEN b = $i THEN 1 ELSE 0 END) AS $pre$i").mkString(", ")
    def lVerified(i: Int) = {
      val q = s"((g.c$i + 1.0) / (g.nd + 8.0))"
      val p = s"((prof.p$i + 1.0) / (prof.pn + 8.0))"
      s"CASE WHEN abs(lt.l$i - ln($q / $p)) < 1e-9 THEN lt.l$i ELSE lt.l$i + 1e9 END AS l$i"
    }
    s"""WITH pb AS (SELECT ${psiBinSql("value")} AS b FROM events),
       | prof AS (SELECT count(*) AS pn, ${cs("p")} FROM pb),
       | x AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
       |        value + (CASE WHEN (CAST(floor(epoch(ts)) AS BIGINT) // 86400) % 7 = 3
       |                      THEN 80 ELSE 0 END) AS v
       |       FROM events),
       | db AS (SELECT d, ${psiBinSql("v")} AS b FROM x),
       | g AS (SELECT d, count(*) AS nd, ${cs("c")} FROM db GROUP BY d),
       | lt AS (SELECT * FROM read_parquet('$E24LogDump/*.parquet')),
       | j AS (SELECT g.*, prof.*, ${(0 until 8).map(lVerified).mkString(",\n       |        ")}
       |       FROM g JOIN lt USING (d), prof)
       |SELECT d, CAST(nd AS BIGINT) AS nd,
       | round($psiChainSql, 4) AS psi,
       | (round($psiChainSql, 4) > 1.0) AS drifted
       |FROM j""".stripMargin
  }

  /** Per-user session counting with a 30-min inactivity gap, implemented as
    * explicit keyed state — the streaming-native form of q15_sessionize.
    * State is O(1) per user (two counters + last-seen). */
  def sessionize(events: Dataset[Ev], gapSeconds: Long = 1800): Dataset[UserSessions] = {
    implicit val outEnc = Encoders.product[UserSessions]
    implicit val stEnc = Encoders.product[SessionState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(0, 0, Long.MinValue))
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            val isStart = st.lastTs == Long.MinValue || t - st.lastTs > gapSeconds * 1000
            st = SessionState(st.sessionCount + (if (isStart) 1 else 0), st.eventCount + 1, math.max(st.lastTs, t))
          }
          state.update(st)
          Iterator.single(UserSessions(user, st.sessionCount, st.eventCount))
      }
  }

  // ---------------- Streaming CDC merge (e20) ----------------

  /** One micro-batch's MERGE into the bucketed at-rest user-state table —
    * the q42 copy-on-write discipline at stream cadence, factored out so
    * the spec can prove BATCH-INVARIANCE directly (any split of the feed
    * into batches folds to the same table, because the merge is the
    * associative fold: counts add, latest-by-(us, event_id) is a max).
    * Per batch: aggregate the delta at user grain, read ONLY the buckets
    * the delta touches (static partition pruning on the bucket IN-list),
    * combine, stage, land via dynamic partition overwrite — untouched
    * buckets are never opened or rewritten. */
  private[streaming] def mergeUserState(spark: SparkSession, target: String,
      batch: DataFrame, nBuckets: Int = 16): Unit = {
    val delta = batch
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("us"), col("event_id"), col("event_type"))).as("last"))
      .select(col("user_id"), col("n_events"),
        col("last.us").as("us"), col("last.event_id").as("event_id"),
        col("last.event_type").as("last_type"),
        pmod(col("user_id"), lit(nBuckets)).cast("int").as("bucket"))
    val buckets = delta.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val cur =
      if (new java.io.File(target).exists())
        Tables.parquet(spark, target)
          .filter(col("bucket").isin(buckets.toSeq: _*))
          .withColumn("bucket", col("bucket").cast("int"))
      else delta.limit(0)
    val merged = cur.unionByName(delta)
      .groupBy(col("user_id"), col("bucket"))
      .agg(sum(col("n_events")).as("n_events"),
        max(struct(col("us"), col("event_id"), col("last_type"))).as("last"))
      .select(col("user_id"), col("n_events"),
        col("last.us").as("us"), col("last.event_id").as("event_id"),
        col("last.last_type").as("last_type"), col("bucket"))
    val stage = s"$target.stage"
    merged.write.mode("overwrite").partitionBy("bucket").parquet(stage)
    Tables.parquet(spark, stage).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(target)
  }

  /** Streaming CDC merge (e20) — the streaming-upsert shape every
    * lakehouse feed needs (Delta/Iceberg `foreachBatch` MERGE): the event
    * stream maintains an at-rest per-user state table (event count +
    * latest event type) by merging EACH micro-batch into a bucketed
    * parquet target under the q42 copy-on-write discipline. Zero
    * streaming state (the TABLE is the state, as e14 keeps its index at
    * rest); per-batch cost scales with the buckets the batch touches.
    * The gate folds the final table to a bucket census — correct only if
    * no batch was lost, doubled, or merged out of order. */
  def streamMergeOnce(spark: SparkSession, dir: String): DataFrame = {
    val target = graft.core.Scratch.dir("graft-e20") + "/state"
    val stream = readEventStream(spark, dir)
    val name = s"stream_merge_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = stream.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          mergeUserState(spark, target, batch)
        }
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
    Tables.parquet(spark, target)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("sum_events"),
        count_distinct(col("last_type")).as("n_types"))
  }

  /** DuckDB oracle twin of [[streamMergeOnce]] — the batch fold of the
    * whole feed (merge cadence must be invisible): per-user totals +
    * latest-by-(us, event_id), bucketed census. */
  def streamMergeOracleSql: String =
    """WITH r AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us, event_id,
      |            row_number() OVER (PARTITION BY user_id
      |                               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnk
      |           FROM events),
      | u AS (SELECT user_id, count(*) AS n_events FROM r GROUP BY user_id),
      | lt AS (SELECT user_id, event_type AS last_type FROM r WHERE rnk = 1)
      |SELECT u.user_id % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_users,
      | CAST(sum(u.n_events) AS BIGINT) AS sum_events,
      | CAST(count(DISTINCT lt.last_type) AS BIGINT) AS n_types
      |FROM u JOIN lt USING (user_id) GROUP BY 1""".stripMargin

  /** WATERMARK LATE-DATA AUDIT (e27) — the reconciliation every
    * production stream runs next to its sink: a watermark is a DATA-LOSS
    * CONTRACT (rows later than the bound are dropped by design), and the
    * audit quantifies what the contract cost — per hourly window and
    * type, the streamed count vs the batch recount of the full feed,
    * and their difference (the dropped stragglers). The drive makes the
    * drop DETERMINISTIC: the feed splits by `event_id % 5` into an
    * on-time file and a straggler file; batch 1 processes only the
    * on-time file (arming the watermark at max(on-time ts) − 1 h), the
    * straggler file lands after batch 1 COMMITS, so batch 2 replays
    * every straggler against the armed watermark — stragglers whose
    * window closed before the watermark are dropped, recent ones still
    * merge. The oracle replays exactly this: the kept set is on-time ∪
    * {stragglers with window end past the armed watermark} (Spark
    * tracks event-time stats in MILLISECONDS, so the oracle truncates
    * the max to ms before subtracting the delay).
    *
    * Scale shape: the audit itself is the e1 aggregate plus ONE batch
    * recount join at window grain — the sink-vs-source reconciliation a
    * pipeline runs hourly, never at event grain. Streaming state stays
    * watermark-bounded (that is the point being audited). */
  def lateAuditOnce(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = Files.createTempDirectory(Paths.get(FastTmpRoot), "graft-e27").toString
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.parquet(spark, s"$dir/events.parquet")
    def writeSplit(df: DataFrame, name: String): Unit = {
      val tmp = s"$stage/__tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.move(part.toPath, Paths.get(s"$stage/$name"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val name = s"stream_lateaudit_${System.nanoTime()}"
    try {
      writeSplit(raw.filter(col("event_id") % 5 =!= 0), "events0.parquet")
      withFewStatePartitions(spark, 4) { ck =>
        val agg = readEventStream(spark, stage)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hr"),
            col("event_type"), col("n"))
        val q = agg.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Update)
          .format("memory").queryName(name).start()
        try {
          q.processAllAvailable() // batch 1: on-time rows arm the watermark
          writeSplit(raw.filter(col("event_id") % 5 === 0), "events1.parquet")
          q.processAllAvailable() // batch 2: stragglers vs armed watermark
        } finally q.stop()
      }
    } finally graft.core.Scratch.delete(stage)
    val streamed = lastUpdate(spark.table(name), Seq("hr", "event_type"), Seq("n"))
      .select(col("hr"), col("event_type"), col("n").as("n_stream"))
    Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n_total"))
      .join(streamed, Seq("hr", "event_type"), "left_outer")
      .select(col("hr"), col("event_type"),
        coalesce(col("n_stream"), lit(0L)).as("n_stream"), col("n_total"),
        (col("n_total") - coalesce(col("n_stream"), lit(0L))).as("n_dropped"))
  }

  /** DuckDB oracle twin of [[lateAuditOnce]] — the same split, the armed
    * watermark (ms-truncated max − 1 h), the window-end drop predicate,
    * and the reconciliation join. */
  def lateAuditOracleSql: String =
    """WITH ontime AS (SELECT * FROM events WHERE event_id % 5 != 0),
      | wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wus FROM ontime),
      | kept AS (SELECT * FROM ontime
      |          UNION ALL
      |          SELECT l.* FROM events l, wm
      |          WHERE l.event_id % 5 = 0
      |            AND epoch_us(date_trunc('hour', l.ts) + INTERVAL 1 HOUR) > wm.wus),
      | s AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hr, event_type,
      |        count(*) AS n_stream FROM kept GROUP BY 1, 2),
      | t AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hr, event_type,
      |        count(*) AS n_total FROM events GROUP BY 1, 2)
      |SELECT t.hr, t.event_type,
      | CAST(coalesce(s.n_stream, 0) AS BIGINT) AS n_stream,
      | CAST(t.n_total AS BIGINT) AS n_total,
      | CAST(t.n_total - coalesce(s.n_stream, 0) AS BIGINT) AS n_dropped
      |FROM t LEFT JOIN s USING (hr, event_type)""".stripMargin

  // ---------------- streaming vector-index upkeep (e28) ----------------

  /** STREAMING vector-index upkeep (e28) — e9/e14's standing-index posture
    * applied to the VECTOR index (s39's streaming twin): the embedding
    * delta arrives as a stream, each micro-batch assigns against the IVF
    * centroids AT REST (row-local codegen argmax — never a refit, never a
    * corpus re-scan) and lands its cell-grain partial census as an
    * IMMUTABLE per-batch artifact (`acc/batch_<id>` — a retried batch
    * overwrites its own subdir instead of double-appending, the e14/e15
    * hardening note made structural). The served census is then standing
    * dump + all partials in ONE nlist-grain fold; merge cadence is
    * invisible by associativity (counts and exact-decimal score masses
    * add), which the spec pins by running the same feed in 1 and 3
    * micro-batches. Zero streaming state: the artifacts ARE the state
    * (the e14 property), and per-batch cost is O(batch + nlist). */
  /** STREAMING upkeep of the visual eval-leakage screen (e29) — m30's
    * streaming twin, the e14/e28 posture on the IMAGE modality: a newly
    * landed image shard must be screened against the eval set BEFORE it
    * joins the training corpus, not in the next quarterly batch audit.
    * Each micro-batch hashes ONLY its own images (the m28 kernel —
    * [[graft.ops.Multimodal.hashWithPlant]], the exact per-row function
    * the standing corpus pass runs), probes the BROADCAST eval band
    * index ([[graft.ops.Multimodal.evalVisualIndex]] — benchmark-sized
    * by the split), verifies Hamming ≤ tau on band collisions only, and
    * folds per image INSIDE the batch (an image's hits are complete the
    * moment it is hashed — no cross-batch state, so micro-batch cadence
    * is invisible by construction and state stays EMPTY).
    *
    * The gate's oracle is m30's batch replay ([[graft.ops.Multimodal
    * .visualDecontamOracleSql]]): the streamed union of per-batch folds
    * must be indistinguishable from the one-shot corpus pass.
    *
    * Scale shape: per-shard cost is O(shard decode + band collisions) —
    * the standing corpus is never re-decoded, never re-scanned; the only
    * broadcast is the eval index; the per-batch window partitions by
    * train image inside shard-sized data. */
  def streamVisualScreenOnce(spark: SparkSession, dir: String,
      evalMod: Int = 15, tau: Int = 3): DataFrame = {
    import graft.ops.Multimodal
    val evalIdx = Multimodal.evalVisualIndex(spark, dir, evalMod)
    // donor payloads are plant-fixture machinery (see donorRelation) —
    // materialized once, joined per batch
    val donors = Tables.materialize(Multimodal.donorRelation(spark, dir))
    val acc = graft.core.Scratch.dir("graft-e29-acc")
    streamVisualInto(spark, s"$dir/documents*.parquet", evalIdx, donors, acc,
      evalMod, tau)
    Tables.parquet(spark, s"$acc/batch_*")
  }

  /** The streaming half of [[streamVisualScreenOnce]], factored so the
    * spec can drive the same feed one-file-per-micro-batch and prove the
    * union of per-batch folds equals the one-shot corpus pass (cadence
    * invariance — the e28 discipline). */
  private[streaming] def streamVisualInto(spark: SparkSession, glob: String,
      evalIdx: DataFrame, donors: DataFrame, acc: String, evalMod: Int,
      tau: Int, maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.ops.Multimodal
    val reader0 = spark.readStream.schema(docSchema)
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    val stream = reader.parquet(glob)
    val name = s"stream_visual_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = stream.writeStream.option("checkpointLocation", ck)
        .outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = Multimodal.assets(batch)
            .filter(col("modality") === "image" &&
              pmod(col("doc_id"), lit(evalMod)) =!= 0)
            .select(col("doc_id"), col("payload"))
          // one decode pass per shard (the m30 discipline): the hash
          // relation feeds the band probe AND the verification leg —
          // then the SHARED fold (foldVisualHits), so the per-shard
          // screen is line-for-line the corpus pass
          val hashed = Tables.materialize(Multimodal.hashWithPlant(
            imgs.join(donors, Seq("doc_id"), "left_outer")))
          Multimodal.foldVisualHits(hashed, evalIdx, tau)
            .write.mode("overwrite").parquet(s"$acc/batch_$batchId")
        }
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  def streamIvfOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val (cents, _, cellPath) = Similarity.ivfAtRest(spark, dir)
    val acc = graft.core.Scratch.dir("graft-e28-acc")
    streamIvfInto(spark, s"$dir/embeddings*.parquet",
      Tables.t(spark, dir, "embeddings").schema, cents, acc)
    servedIvfCensus(spark, cellPath, acc)
  }

  /** The streaming half of [[streamIvfOnce]], factored so the spec can
    * drive the same feed at different micro-batch cadences. */
  private[streaming] def streamIvfInto(spark: SparkSession, glob: String,
      schema: StructType, cents: Array[Array[Double]], acc: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.functions.CentroidExprs.centroid_argmax
    import graft.ops.Similarity
    val reader0 = spark.readStream.schema(schema)
    // the spec drives one-file-per-micro-batch to PROVE cadence invariance;
    // the gate path takes whatever the source offers
    val reader = maxFilesPerTrigger.fold(reader0)(n =>
      reader0.option("maxFilesPerTrigger", n.toString))
    val delta = reader.parquet(glob)
      .filter(pmod(col("vec_id"), lit(Similarity.VecDeltaMod)) === 0)
      .select(col("embedding"))
    val name = s"stream_ivf_${System.nanoTime()}"
    withFewStatePartitions(spark, 4) { ck =>
      val q = delta.writeStream.option("checkpointLocation", ck).outputMode(OutputMode.Append)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch
            .withColumn("sc", centroid_argmax(col("embedding"), cents))
            .select(col("sc.cluster").cast(LongType).as("cell"),
              round(col("sc.cs"), 4).cast(DecimalType(18, 4)).as("cs"))
            .groupBy(col("cell"))
            .agg(count(lit(1)).as("n"), sum(col("cs")).as("s"))
            .write.mode("overwrite").parquet(s"$acc/batch_$batchId")
        }
        .queryName(name).start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** The serving fold of [[streamIvfOnce]]: standing census + every
    * partial, one bounded (≤ nlist rows per relation) aggregation. */
  private[streaming] def servedIvfCensus(spark: SparkSession, cellPath: String,
      acc: String): DataFrame = {
    val standing = Tables.parquet(spark, cellPath)
      .select(col("cell"), col("n_standing").as("n"), col("s_sum").as("s"))
    val parts = Tables.parquet(spark, s"$acc/batch_*")
      .select(col("cell"), col("n"), col("s"))
    standing.unionByName(parts)
      .groupBy(col("cell"))
      .agg(sum(col("n")).as("nt"), sum(col("s")).as("st"))
      .select(col("cell"), col("nt").cast(LongType).as("n_total"),
        round(col("st").cast(DoubleType) / col("nt"), 4).as("mean_cs"))
  }

  /** DuckDB oracle twin of [[streamIvfOnce]] — standing census from the
    * at-rest dump (the engine never recomputes it either), the streamed
    * delta replayed as one batch assignment from the dumped centroids
    * (micro-batch cadence must be invisible), same decimal folds. */
  def streamIvfOracleSql: String = {
    import graft.ops.Similarity
    s"""WITH c AS (SELECT cluster, centroid AS cent FROM read_parquet('${Similarity.S39CentroidDump}/*.parquet')),
       | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |       FROM embeddings WHERE vec_id % ${Similarity.VecDeltaMod} = 0),
       | s AS (SELECT vec_id, cluster,
       |        CASE WHEN sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent)) = 0 THEN 0.0
       |             ELSE list_dot_product(emb, cent) /
       |                  (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cent, cent))) END AS cs
       |       FROM e, c),
       | asg AS (SELECT vec_id, CAST(cluster AS BIGINT) AS cell,
       |          CAST(round(cs, 4) AS DECIMAL(18,4)) AS cs FROM (
       |          SELECT vec_id, cluster, cs,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cluster) AS rnk
       |          FROM s) x WHERE rnk = 1),
       | d AS (SELECT cell, count(*) AS n, sum(cs) AS s FROM asg GROUP BY cell),
       | r AS (SELECT cell, n_standing AS n, s_sum AS s
       |       FROM read_parquet('${Similarity.S39CellsDump}/*.parquet')),
       | u AS (SELECT * FROM r UNION ALL SELECT * FROM d)
       |SELECT cell, CAST(sum(n) AS BIGINT) AS n_total,
       | round(CAST(sum(s) AS DOUBLE) / sum(n), 4) AS mean_cs
       |FROM u GROUP BY cell""".stripMargin
  }
}
