package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, forcing full evaluation through the `noop` sink
  * (`count()` would let Catalyst prune projection work), after a warmup
  * pass that absorbs JVM/codegen/session startup. Prints exactly one JSON
  * line carrying per-query best-of-N (`queries`), the raw first run of
  * each (`singles`), and a machine-adjudicated `suspect` list: queries
  * whose best-of-2 exceeds the recorded band (`bench_bands.json`, prior
  * round idle-box bests) are automatically escalated to best-of-5 before
  * being flagged — single-run spikes from machine load wash out in-run
  * instead of needing a hand re-measure every round. Entries still over
  * band after that get a post-sweep SELF-ADJUDICATION (r12 directive #2):
  * best-of-3 re-measure in both orders bracketed by no-op floor probes,
  * and each suspect ships with `remeasure`, `floor_ratio` (floor now vs
  * the run's own baseline — the box-load signal) and a harness verdict
  * (`environmental` when the re-measure is back inside the band,
  * `persistent` otherwise), so a loaded driver box no longer costs a
  * judge session per round.
  *
  * Registry-fed queries (those that looked up an operator-artifact
  * AtRestRegistry during their measured runs, as recorded by
  * `AtRestRegistry.touchedBy`) additionally report a `cold` number —
  * every artifact registry reset, one run — and the run reports
  * `registry_build_sec`, the one-time artifact build cost observed
  * across the sweep (per registry key, once; fixture staging excluded).
  * The headline `value` is warm total + that build cost; `value_warm`
  * keeps the old warmed-only semantics. A run that throws is never a
  * timing: it is listed under `failed` with its phase (warm, cold or
  * remeasure) and left out of every timing map and total. */
object Bench {
  /** A query is registry-fed when it looked up an operator artifact; a
    * fixture-staging lookup (a copied input, its metadata) is not. */
  private[graft] def registryFed(touched: Set[(graft.core.AtRestRegistry[_], String)]): Boolean =
    touched.exists(_._1.kind == graft.core.AtRestRegistry.Artifact)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // opt-in reliable-checkpoint mode: with a dir set, Tables.materialize
    // takes the production (executor-loss-safe) branch instead of
    // localCheckpoint — same results, slightly more I/O (MaterializeSpec
    // pins the equivalence; this knob lets the branch run under the bench)
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)

    // (name, phase) of every run that threw, in order; never a timing
    val failures = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    def failed(name: String, phase: String, e: Throwable): None.type = {
      System.err.println(s"[bench] $name ($phase) failed: $e")
      failures += (name -> phase)
      None
    }
    def force(name: String, phase: String = "warm"): Option[Double] = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => return failed(name, phase, e) }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop caches a query may have persisted (e.g. the minhash shingle
      // set) so runs don't accumulate memory pressure across 2x37 queries
      spark.catalog.clearCache()
      Some(dt)
    }

    // warmup: session machinery + parquet footers + codegen paths
    spark.range(1000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
    force("q01_agg"); force("q02_join5")

    // no-op floor probe (the ScalingAudit harness-floor job): a trivial
    // one-partition noop sink times the submit/schedule/commit machinery —
    // its drift across the run is a direct read on contemporaneous box
    // load, independent of any query's own cost
    def floorProbe(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).coalesce(1).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val floorBase = floorProbe()

    // Recorded per-query bands from the previous round's idle-box run
    // (flat JSON object name -> seconds, regenerated via
    // SPARK_GRAFT_BANDS_OUT). Used to adjudicate spikes IN-RUN instead of
    // re-running suspects by hand every round.
    val bandsPath = sys.env.getOrElse("SPARK_GRAFT_BANDS", "bench_bands.json")
    val bands: Map[String, Double] = {
      val f = new java.io.File(bandsPath)
      if (!f.isFile) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        "\"([^\"]+)\"\\s*:\\s*([0-9][0-9.eE+-]*)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }

    // best-of-2: the first execution of a query pays one-time janino
    // compilation of its generated code (seconds for wide aggregates),
    // which is amortized away in any long-running deployment. When best-of-2
    // still exceeds the recorded band, escalate to best-of-5 automatically —
    // machine variance (the usual cause, BENCH_NOTES passim) washes out and
    // only a persistent regression stays flagged as `suspect`.
    // Sub-second queries on this box swing 2-4x run-to-run, so a suspect
    // needs BOTH >2x the band AND >0.75 s absolute excess.
    // optional args: bench only queries whose name contains one of them
    // (dev iteration; the driver passes no args → full sweep)
    val only = args.toSeq
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.exists(n.contains))
    case class QRes(first: Double, best: Double, reps: Int)
    def over(best: Double, band: Double): Boolean =
      best > 2.0 * band && best - band > 0.75
    // ONE adjudication policy, shared by the query loop and the v_* array
    // metrics below — two hand-maintained copies of the escalation rule
    // would drift. `sample` is None on failure (queries only); a query
    // with a failed sample gets no timing at all (it is in `failures`).
    def adjudicate(name: String, sample: () => Option[Double]): Option[QRes] = {
      val (a, b) = (sample(), sample())
      if (a.isEmpty || b.isEmpty) return None
      var best = math.min(a.get, b.get)
      var reps = 2
      while (reps < 5 && bands.get(name).exists(over(best, _))) {
        best = math.min(best, sample().getOrElse(return None))
        reps += 1
      }
      Some(QRes(a.get, best, reps))
    }
    // reps >= 3 guarantees the escalation loop really ran
    def isSuspect(name: String, r: QRes): Boolean =
      r.reps >= 3 && bands.get(name).exists(over(r.best, _))
    // each query's registry lookups over its measured runs decide whether
    // it also gets a cold run below
    val runs = names.map { n =>
      val (r, touched) = graft.core.AtRestRegistry.touchedBy(adjudicate(n, () => force(n)))
      (n, r, registryFed(touched))
    }
    val measured = runs.map { case (n, r, _) => n -> r }
    val suspects = measured.collect {
      case (n, Some(r)) if isSuspect(n, r) => (n, r.best, bands(n))
    }
    val results0 = measured.collect { case (n, Some(r)) => n -> r.best }

    // array-surface throughput (the reference's per-call MB/s metric,
    // src/modes/sequential.jl:62-63): 256^3 uint8 = 16 MiB ingest + cutout.
    // Each metric goes through the SAME best-of-2 → escalate-to-5 band
    // adjudication as the queries (r6 advice: bands that are written but
    // never adjudicated are dead entries — a spike in the array surface
    // would never be flagged), so v_* entries feed `suspects` too.
    var arraySuspects = List.empty[(String, Double, Double)]
    // samplers the post-sweep re-measure pass can re-invoke (the v_*
    // closures capture the bench volume, so they register here)
    var remeasureSamplers = Map.empty[String, () => Option[Double]]
    val arrayBench = try {
      import graft.core.{Grid, Meta}
      import graft.volume.{Volume, VoxelBuffer}
      val root = java.nio.file.Files.createTempDirectory("graft-bench-vol").toString
      val meta = Meta.VolumeMeta("image", Meta.TUInt8, 1, Vector(
        Meta.ScaleMeta("1_1_1", (64, 64, 64), "gzip", (1, 1, 1), (256, 256, 256), (0, 0, 0))))
      val vol = Volume.create(spark, root, meta)
      val buf = VoxelBuffer.sequenced(Meta.TUInt8, 256, 256, 256, 1, (1, 1, 1))
      def adjudicated(name: String)(f: => Unit): Double = {
        val sample = () => {
          val t = System.nanoTime(); f; Some((System.nanoTime() - t) / 1e9)
        }
        remeasureSamplers += (name -> sample)
        val r = adjudicate(name, sample).get // a throwing sample ends the array bench
        if (isSuspect(name, r)) arraySuspects ::= ((name, r.best, bands(name)))
        r.best
      }
      val tIngest = adjudicated("v_ingest_256")(vol.ingest(buf))
      var out: VoxelBuffer = null
      val tCutout = adjudicated("v_cutout_256") { out = vol.cutout(Grid.Box(1, 256, 1, 256, 1, 256)) }
      require(out == buf, "array bench roundtrip mismatch")
      // native VoxelScan throughput: box-pruned scan + aggregate over ~9.4M
      // voxels through the custom Catalyst leaf (exercises VoxelScanExec's
      // row production, not the driver cutout path)
      graft.plans.GraftExtensions.install(spark)
      import org.apache.spark.sql.functions.{col, sum, count, lit}
      val tScan = adjudicated("v_scan_256") {
        val r = vol.voxels()
          .filter(col("x") <= 192 && col("y") <= 192)
          .agg(sum(col("value")), count(lit(1))).collect().head
        require(r.getLong(1) == 192L * 192 * 256, "scan row count mismatch")
      }
      // whole-volume re-layout throughput (one shuffle by destination chunk)
      val tRechunk = adjudicated("v_rechunk_256") {
        val dst = java.nio.file.Files.createTempDirectory("graft-bench-rck").toString
        val n = graft.ops.VolumeOps.rechunk(vol, Grid.Box(1, 256, 1, 256, 1, 256),
          dst, chunkSize = (128, 128, 32))
        require(n == 2L * 2 * 8, "rechunk chunk count mismatch")
      }
      Seq("v_ingest_256" -> tIngest, "v_cutout_256" -> tCutout, "v_scan_256" -> tScan,
        "v_rechunk_256" -> tRechunk)
    } catch { case e: Throwable => failed("v_array_bench", "warm", e); Seq.empty }
    // bounded-drive floor (e-family adjudication aid): ONE stateful drive
    // over a 1-row stream through the exact e-drive harness — reported as
    // its own entry so every e-query's number reads as floor + data work
    val floorBench = try {
      val sample = () => {
        val t = System.nanoTime()
        graft.streaming.EventStreams.driveFloorOnce(spark)
        Some((System.nanoTime() - t) / 1e9)
      }
      remeasureSamplers += ("e0_drive_floor" -> sample)
      val r = adjudicate("e0_drive_floor", sample).get
      if (isSuspect("e0_drive_floor", r))
        arraySuspects ::= (("e0_drive_floor", r.best, bands("e0_drive_floor")))
      Seq("e0_drive_floor" -> r.best)
    } catch { case e: Throwable => failed("e0_drive_floor", "warm", e); Seq.empty }
    val allSuspects = suspects ++ arraySuspects.reverse

    // ---- post-sweep self-adjudication (r12 directive #2) ----
    // Two judge rounds were burned re-measuring driver-box false suspects
    // by hand (r11: 8, r12: 7 — every one environmental). The harness now
    // does that work itself: every entry still over band after the in-run
    // best-of-5 is re-measured best-of-3 in BOTH orders (forward then
    // reversed — the SuspectBench de-biasing), bracketed by floor probes
    // whose drift vs the run's baseline reads the box load directly. An
    // entry whose re-measure lands back inside the band is labeled
    // `environmental` by the harness; only `persistent` entries need a
    // human (or a judge) to look at the code.
    // remeasure: the best re-measured time, None when every re-measure
    // failed (verdict "failed"); floorRatio: None when every floor probe
    // failed
    case class Adj(remeasure: Option[Double], floorRatio: Option[Double], verdict: String)
    val adjudications: Map[String, Adj] = if (allSuspects.isEmpty) Map.empty else {
      // every re-invocation is failure-isolated (the v_* samplers carry
      // require()s and temp-dir creation): one throw here must never
      // discard the whole sweep's output — the run's entire point
      val samplers: Map[String, () => Option[Double]] =
        names.map(n => n -> (() => force(n, "remeasure"))).toMap ++ remeasureSamplers
      def safe(n: String, s: () => Option[Double]): Option[Double] =
        try s() catch { case e: Throwable => failed(n, "remeasure", e) }
      def bo3(n: String): Seq[Double] =
        samplers.get(n).toSeq.flatMap(s => (1 to 3).flatMap(_ => safe(n, s)))
      try {
        val order = allSuspects.map(_._1)
        def floor() = safe("floor_probe", () => Some(floorProbe()))
        val floorPre = floor()
        val fwd = order.map(n => n -> bo3(n))
        val floorMid = floor()
        val rev = order.reverse.map(n => n -> bo3(n))
        val floorPost = floor()
        val floors = Seq(floorPre, floorMid, floorPost).flatten
        val fr = if (floors.isEmpty || floorBase <= 0) None else Some(floors.min / floorBase)
        val best = (fwd ++ rev).groupBy(_._1).collect {
          case (n, xs) if xs.exists(_._2.nonEmpty) => n -> xs.flatMap(_._2).min
        }
        allSuspects.map { case (n, _, band) =>
          val rm = best.get(n)
          val verdict = rm match {
            case None => "failed"
            case Some(v) => if (over(v, band)) "persistent" else "environmental"
          }
          n -> Adj(rm, fr, verdict)
        }.toMap
      } catch { case e: Throwable =>
        System.err.println(s"[bench] self-adjudication failed: $e"); Map.empty
      }
    }
    // ---- cold/warm split for registry-fed queries (r13 verdict #1) ----
    // These queries serve their dominant input from an AtRestRegistry
    // artifact once it is built, so their best-of-N above measures a
    // warmed run (prefix probe / candidate join / parquet read) — NOT the
    // declared pipeline. Report each one's COLD cost too: every registry
    // reset (the existing test/audit seam), then ONE run that rebuilds
    // exactly the artifacts it reads. `registry_build_sec` separately
    // totals the one-time artifact builds observed during the sweep (one
    // entry per registry key — the cost a warmed-only total would hide),
    // and the headline `value` = warm total + registry_build_sec, i.e.
    // "compute everything once from the parquet inputs". The old
    // warmed-only total is kept as `value_warm` for round-over-round
    // comparison. The cold pass runs AFTER suspect self-adjudication so
    // re-measures above never pay a rebuild they didn't cause.
    val registryBuilds: Map[String, Double] =
      graft.core.AtRestRegistry.buildSecondsByRegistry
    val registryBuildSec = registryBuilds.values.sum
    val cold: Seq[(String, Double)] =
      runs.collect { case (n, _, true) => n }.flatMap { n =>
        graft.core.AtRestRegistry.all
          .filter(_.kind == graft.core.AtRestRegistry.Artifact).foreach(_.reset())
        force(n, "cold").map(n -> _)
      }

    val results = results0 ++ arrayBench ++ floorBench
    // regenerate the band file for the NEXT round's comparisons (run on an
    // idle box; commit the output as bench_bands.json)
    // Locale.ROOT: f"" uses the default locale, which writes comma decimals
    // on e.g. de_DE JVMs — corrupting the band file and the JSON line
    def dec3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    sys.env.get("SPARK_GRAFT_BANDS_OUT").foreach { out =>
      val body = results
        .map { case (k, v) =>
          // a measurement the run itself flagged suspect must not become
          // the new band (a 5x in-context JVM spike would make the band
          // blind to real regressions of that size); keep the prior band —
          // after a CONFIRMED regression, delete the stale entry and rerun
          val recorded =
            if (allSuspects.exists(_._1 == k) && bands.contains(k)) bands(k) else v
          "\"" + k + "\":" + dec3(recorded)
        }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(out), body.getBytes("UTF-8"))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + dec3(v) }.mkString("{", ",", "}")
    val totalWarm = results.map(_._2).sum
    val total = totalWarm + registryBuildSec
    val coldJson = cold.map { case (k, v) => "\"" + k + "\":" + dec3(v) }
      .mkString("{", ",", "}")
    val rbJson = registryBuilds.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + dec3(v) }.mkString("{", ",", "}")
    // the driver parses this line from the log tail: stop Spark FIRST (its
    // shutdown logging would otherwise interleave mid-line), flush both
    // streams, then emit the JSON as one atomic write.
    // FIELD ORDER IS LOAD-BEARING for the archived artifact: the driver
    // keeps only a ~2 KB log TAIL, so the r6 artifact lost `queries`, the
    // total and every v_* metric behind the truncation point. The two long
    // per-query maps therefore go FIRST and every verdict-relevant scalar —
    // suspect list, v_* array metrics, total — rides in the last few
    // hundred bytes, surviving any truncation. (JSON object key order is
    // semantically irrelevant, so an untruncated line parses identically.)
    val singles = measured.collect { case (k, Some(r)) => "\"" + k + "\":" + dec3(r.first) }
      .mkString("{", ",", "}")
    val failedJson = failures.map { case (n, phase) => s"""{"name":"$n","phase":"$phase"}""" }
      .mkString("[", ",", "]")
    val suspectJson = allSuspects.map { case (n, best, band) =>
      val extra = adjudications.get(n).map(a =>
        a.remeasure.map(v => s""","remeasure":${dec3(v)}""").getOrElse("") +
          a.floorRatio.map(v => s""","floor_ratio":${dec3(v)}""").getOrElse("") +
          s""","verdict":"${a.verdict}"""")
        .getOrElse("")
      s"""{"name":"$n","best":${dec3(best)},"band":${dec3(band)},"ratio":${dec3(best / band)}$extra}"""
    }.mkString("[", ",", "]")
    val vTail = arrayBench.map { case (k, v) => "\"" + k + "\":" + dec3(v) }
      .mkString(",")
    val vPart = if (vTail.isEmpty) "" else vTail + ","
    spark.stop()
    System.err.flush()
    System.out.flush()
    val fullLine =
      s"""{"queries":$qs,"singles":$singles,"cold":$coldJson,"registry_builds":$rbJson,"sf":"$sfDir","failed":$failedJson,"suspect":$suspectJson,$vPart"registry_build_sec":${dec3(registryBuildSec)},"value_warm":${dec3(totalWarm)},"metric":"total","unit":"sec","value":${dec3(total)}}"""
    // DURABLE in-repo record (r10 directive): the driver archives only a
    // ~2 KB log TAIL, so the full per-query map has never survived into a
    // BENCH_r* artifact. Every run therefore also writes the complete
    // machine-readable result to a file (committed as bench_self.json) —
    // the stdout tail mechanics can clip what they like, the repo still
    // carries the whole run. Timestamped so consecutive runs are
    // distinguishable; written BEFORE the stdout lines so a crash between
    // them cannot leave stdout claiming a result the file lacks.
    val selfOut = sys.env.getOrElse("SPARK_GRAFT_SELF_OUT", "bench_self.json")
    try {
      val stamp = java.time.Instant.now().toString
      java.nio.file.Files.write(java.nio.file.Paths.get(selfOut),
        s"""{"written_at":"$stamp",${fullLine.tail}""".getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] self-record write failed: $e") }
    System.out.println(fullLine)
    // COMPACT final line, emitted LAST so it sits fully inside the driver's
    // ~2 KB log tail (the full line above overflows it — BENCH_r07's
    // `"parsed": null`). Query names shrink to their unique leading token
    // (q01_agg → q01); `singles` is dropped. ~1.8 KB total, so the tail
    // always contains one complete parseable JSON line.
    val shortName: Map[String, String] = {
      val cand = results0.map { case (k, _) => k -> k.takeWhile(_ != '_') }.toMap
      val dup = cand.values.groupBy(identity).collect { case (v, g) if g.size > 1 => v }.toSet
      cand.map { case (k, v) => k -> (if (dup(v)) k else v) }
    }
    val qsShort = results0.map { case (k, v) => "\"" + shortName(k) + "\":" + dec3(v) }
      .mkString("{", ",", "}")
    System.out.println(s"""{"queries":$qsShort,"cold":$coldJson,"sf":"$sfDir","failed":$failedJson,"suspect":$suspectJson,$vPart"registry_build_sec":${dec3(registryBuildSec)},"value_warm":${dec3(totalWarm)},"metric":"total","unit":"sec","value":${dec3(total)}}""")
    // FINAL scalars-only line: at 197 queries even the compact map above
    // is ~2.4 KB and the driver's ~2 KB log tail clips its head
    // (BENCH_r08 `"parsed": null`). The LAST line therefore carries NO
    // per-query map — only the verdict-relevant scalars — so the tail
    // always ends with one complete parseable JSON object (<400 B); the
    // full and compact query maps ride in the two preceding lines and in
    // BENCH_NOTES.md. The suspect list is capped so a pathological round
    // cannot regrow the line past the tail.
    val susCap = allSuspects.take(5).map { case (n, best, band) =>
      val v = adjudications.get(n).map(a =>
        a.remeasure.map(r => s""","remeasure":${dec3(r)}""").getOrElse("") +
          s""","verdict":"${a.verdict}"""").getOrElse("")
      s"""{"name":"$n","best":${dec3(best)},"band":${dec3(band)}$v}"""
    }.mkString("[", ",", "]")
    val susMore = if (allSuspects.size > 5) s""","suspect_more":${allSuspects.size - 5}""" else ""
    System.out.println(s"""{"sf":"$sfDir","n_queries":${results0.size},"n_failed":${failures.size},"suspect":$susCap$susMore,$vPart"registry_build_sec":${dec3(registryBuildSec)},"value_warm":${dec3(totalWarm)},"metric":"total","unit":"sec","value":${dec3(total)}}""")
    System.out.flush()
  }
}
