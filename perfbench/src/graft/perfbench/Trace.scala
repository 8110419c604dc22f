package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.plans.VoxelScanExec

/** One timed interval of the traced run. Times are epoch microseconds;
  * `parent` is 0 for a request span; `req` ties the span to its request. */
final case class Span(id: Int, name: String, startUs: Double, endUs: Double, parent: Int, req: String)

/** Per-layer tracing for the traced run only. While attached it records:
  *  - a span per request and per nested benchmark call (`span`);
  *  - a span per Spark job, tied to its request through the job group;
  *  - summed task metrics (SparkListener) and Catalyst phase times plus
  *    VoxelScan SQL metrics (QueryExecutionListener) as named counters.
  * The listeners count only events of a live request: the bus is drained
  * before a request starts and before it ends, so the Spark work of output
  * checks (which run after the request) is never counted.
  * Spans stay in memory until the run ends. When detached every call is a
  * plain pass-through, so measured runs carry no tracing cost. */
final class Tracer(spark: SparkSession) {
  @volatile private var attached = false
  /** Set while a request runs; listener events outside it are ignored. */
  @volatile private var live = false
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowUs(): Double = (System.nanoTime() + offsetNs) / 1000.0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 1
  private var stack: List[Int] = Nil
  private var req = ""
  private val reqSpanOfGroup = mutable.Map.empty[String, Int]
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  /** chunksFetched of the VoxelScans of the current request's queries; -1
    * until the listener sees one. */
  @volatile var lastScanChunks: Long = -1L

  def isAttached: Boolean = attached

  def add(name: String, v: Double): Unit = synchronized {
    if (attached) counters(name) = counters.getOrElse(name, 0.0) + v
  }

  /** A counter from a listener event: only a live request's work counts. */
  private def addLive(name: String, v: Double): Unit = synchronized {
    if (attached && live) counters(name) = counters.getOrElse(name, 0.0) + v
  }

  def counterSnapshot: Map[String, Double] = synchronized(counters.toMap)
  def spanSnapshot: Seq[Span] = synchronized(spans.toList)

  /** Run one client request. In a traced run it gets a span and a Spark job
    * group. The listener bus is drained before it goes live, so earlier
    * (check) events are not counted, and again before it ends, so every
    * event of the request is attributed before the next one starts. */
  def request[T](name: String, id: String)(f: => T): T =
    if (!attached) f
    else {
      org.apache.spark.sql.graftshim.shim.drainListenerBus(spark)
      val sid = synchronized { val s = nextId; nextId += 1; reqSpanOfGroup(id) = s; s }
      req = id
      lastScanChunks = -1L
      live = true
      spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
      val t0 = nowUs()
      stack = sid :: stack
      try f
      finally {
        val t1 = nowUs()
        stack = stack.tail
        org.apache.spark.sql.graftshim.shim.drainListenerBus(spark)
        live = false
        spark.sparkContext.clearJobGroup()
        synchronized { spans += Span(sid, name, t0, t1, 0, id) }
      }
    }

  /** A nested timed call inside the current request (traced runs only).
    * The request's Spark jobs hang under its outermost call span. */
  def span[T](name: String)(f: => T): T =
    if (!attached) f
    else {
      val parent = stack.headOption.getOrElse(0)
      val sid = synchronized {
        val s = nextId; nextId += 1
        if (reqSpanOfGroup.get(req).contains(parent)) reqSpanOfGroup(req) = s
        s
      }
      val t0 = nowUs()
      stack = sid :: stack
      try f
      finally {
        val t1 = nowUs()
        stack = stack.tail
        synchronized { spans += Span(sid, name, t0, t1, parent, req) }
      }
    }

  private object Scans extends AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[VoxelScanExec] = collectWithSubqueries(p) { case v: VoxelScanExec => v }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts(e.jobId) = (group, e.time)
      if (attached && live) counters("spark.jobs") = counters.getOrElse("spark.jobs", 0.0) + 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (group, t0) =>
        if (attached && live) {
          val sid = nextId; nextId += 1
          spans += Span(sid, "spark.job", t0 * 1000.0, e.time * 1000.0,
            reqSpanOfGroup.getOrElse(group, 0), group)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      addLive("spark.tasks", 1)
      addLive("spark.task_deser_s", m.executorDeserializeTime / 1e3)
      addLive("spark.sched_delay_s", sched / 1e3)
      addLive("spark.result_bytes", m.resultSize.toDouble)
      addLive("spark.executor_run_s", m.executorRunTime / 1e3)
      addLive("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      addLive("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      addLive("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      addLive("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        addLive(s"catalyst.${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
      }
      val scans = Scans.of(qe.executedPlan)
      if (scans.nonEmpty && live) {
        val fetched = scans.map(_.metrics("chunksFetched").value).sum
        addLive("voxelscan.chunks_fetched", fetched.toDouble)
        addLive("voxelscan.bytes_fetched", scans.map(_.metrics("bytesFetched").value).sum.toDouble)
        addLive("voxelscan.rows_out", scans.map(_.metrics("numOutputRows").value).sum.toDouble)
        lastScanChunks = math.max(lastScanChunks, 0L) + fetched
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  def detach(): Unit = {
    org.apache.spark.sql.graftshim.shim.drainListenerBus(spark)
    attached = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spanSnapshot.sortBy(_.startUs).map { s =>
      Serialization.write(Map("id" -> s.id, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> s.parent, "req" -> s.req))(DefaultFormats)
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
