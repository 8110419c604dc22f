package graft.testutil

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.shim
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed-plan instrumentation for scan-count regression tests.
  *
  * The r4 review found that a "ReuseExchange collapses the recompute" claim
  * held only with AQE off: under AQE (the default everywhere this engine
  * runs) exchange reuse is deferred to runtime stage-matching, which does not
  * fire across self-join aliasings, and the executed adaptive plan ran 8
  * FileScans where the static plan showed 1. Scaladoc claims drift; these
  * probes don't — they count FileSourceScan nodes in the plans Spark
  * ACTUALLY EXECUTED, including the eager checkpoint materializations that
  * [[graft.ops.Tables.materialize]] runs while an operator is being built.
  */
object PlanProbe {

  /** Run `thunk` and return the executed plan of every action Spark ran for
    * it (collect/count/checkpoint/localCheckpoint/...), captured via a
    * QueryExecutionListener and drained deterministically before
    * returning. */
  def executedPlans(spark: SparkSession)(thunk: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // drain FIRST: the listener bus is asynchronous, so a success event
    // from an action run BEFORE this probe (e.g. a warm-up/materialization
    // call in the same test) can still be queued and would be delivered to
    // the listener we are about to register, inflating the count (observed
    // as a flaky d7 probe)
    shim.drainListenerBus(spark)
    spark.listenerManager.register(listener)
    try {
      thunk
      shim.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toList
  }

  /** Spark jobs started and SQL executions finished while `thunk` runs. */
  def jobsAndQueries(spark: SparkSession)(thunk: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    shim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val queries = executedPlans(spark)(thunk)
      (jobs.get(), queries.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** FileSourceScan nodes over `table` (path substring) in one plan,
    * descending into adaptive plans and materialized query stages.
    * ReusedExchange / reused-stage references are leaves here and are NOT
    * counted — a reuse does not re-execute the scan. */
  def fileScans(plan: SparkPlan, table: String): Int = {
    val here = plan match {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(table)) => 1
      case _ => 0
    }
    val nested = plan match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan, table)
      case q: QueryStageExec => fileScans(q.plan, table)
      case _ => 0
    }
    here + nested + plan.children.map(fileScans(_, table)).sum +
      plan.subqueries.map(fileScans(_, table)).sum
  }

  /** Total `table` FileScans across EVERY plan executed by `thunk` — the
    * number that must not regress for multi-consumer operators. */
  def totalFileScans(spark: SparkSession, table: String)(thunk: => Unit): Int =
    executedPlans(spark)(thunk).map(fileScans(_, table)).sum
}
