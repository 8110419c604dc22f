package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

/** One client request as measured: wall seconds of the call alone (the
  * output check runs after the clock stops), the raw bytes and voxels it
  * delivered or wrote, and whether the call and its check both passed. */
final case class Op(kind: String, seconds: Double, bytes: Long, voxels: Long, ok: Boolean,
    extra: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "s" -> seconds, "bytes" -> bytes,
    "voxels" -> voxels, "ok" -> ok) ++ extra
}

/** Closed-loop request recorder: each request starts only after the
  * previous one (and its check) has finished. */
final class Recorder(val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var n = 0
  /** Requests made while set are checked but marked as JVM warm-up, and
    * the metrics leave them out. */
  var warmup = false

  def run[T](kind: String, call: String, bytes: Long = 0L, voxels: Long = 0L,
      extra: Map[String, Any] = Map.empty)(f: => T)(check: T => Boolean): Option[T] = {
    n += 1
    val id = s"$kind-$n"
    val t0 = System.nanoTime()
    val r = try Right(tracer.request(kind, id)(tracer.span(call)(f)))
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    val ok = r match {
      case Right(v) =>
        try check(v) catch { case e: Throwable => Main.log(s"$id: check threw $e"); false }
      case Left(e) => Main.log(s"$id: call failed: $e"); false
    }
    if (!ok) Main.log(s"$id: FAILED")
    ops += Op(kind, dt, bytes, voxels, ok, if (warmup) extra + ("warmup" -> true) else extra)
    r.toOption
  }

  /** An untimed output check that is not part of any single request (for
    * example the read-back of a written store); counted as attempted. */
  def check(kind: String)(f: => Boolean): Unit = {
    val ok = try f catch { case e: Throwable => Main.log(s"$kind: check threw $e"); false }
    if (!ok) Main.log(s"$kind: FAILED")
    ops += Op(kind, 0.0, 0L, 0L, ok)
  }
}

/** A workload runs one measured segment per call of `segment`. A traced run
  * calls it three times (untraced, traced, untraced), so the tracing
  * overhead is the traced segment against the mean of the two around it,
  * which cancels a steady warm-up drift. */
trait Workload {
  /** Build the fixture once; returns its wall seconds. */
  def setup(): Double
  /** Requests for about `seconds`, after unmeasured JVM warm-up requests
    * when `warmup` is set. Returns segment-level facts for the metrics. */
  def segment(rec: Recorder, seconds: Double, warmup: Boolean): Map[String, Any]
  /** Traced runs only: the single-threaded replay of per-chunk work. */
  def replay(rec: Recorder): Unit = ()
  def cleanup(): Unit = ()
}

object Workload {
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Fisher-Yates shuffle driven by the workload's seeded generator. */
  def shuffle[T](rng: java.util.SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

object Main {
  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** How many times set-up is repeated in one run (setup_s is the median). */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val cores = opts("cores").toInt
    val work = java.nio.file.Paths.get(opts("work")).toAbsolutePath
    val rawOut = java.nio.file.Paths.get(opts("raw"))
    java.nio.file.Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark)
    val w: Workload = workload match {
      case "array_read" => new ArrayRead(spark, seed, work, traced)
      case "array_write" => new ArrayWrite(spark, seed, work)
      case "corpus_build" => new CorpusBuild(spark, seed, work, readHashes(opts("hashes")))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val fixtureS = (1 to SetupReps).map(_ => w.setup())

    val segments = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runSegment(secs: Double, warmup: Boolean): Unit = {
      val rec = new Recorder(tracer)
      val extra = w.segment(rec, secs, warmup)
      if (tracer.isAttached) w.replay(rec)
      segments += Map("traced" -> tracer.isAttached, "ops" -> rec.ops.map(_.toMap)) ++ extra
    }
    if (!traced) runSegment(seconds, warmup = true)
    else {
      runSegment(seconds / 2, warmup = true)
      tracer.attach()
      runSegment(seconds / 2, warmup = false)
      tracer.detach()
      runSegment(seconds / 2, warmup = false)
      tracer.writeSpans(java.nio.file.Paths.get(opts("spans")))
    }
    w.cleanup()
    spark.stop()

    val raw = Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS, "fixture_s" -> fixtureS,
      "segments" -> segments,
      "counters" -> tracer.counterSnapshot,
      "rss_peak_mb" -> rssPeakMb())
    java.nio.file.Files.write(rawOut, Serialization.write(raw)(DefaultFormats).getBytes("UTF-8"))
  }

  /** The recorded `"query": "rows:hash"` pairs of a flat JSON object. */
  def readHashes(path: String): Map[String, String] = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    JsonMethods.parse(txt).extract[Map[String, String]]
  }

  /** This JVM's peak resident set (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
