package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark jobs an action starts, each named by its call site — the
  * count seam of the job-budget specs.
  */
object JobSites {

  /** One job: the SQL execution it ran under (none for a job started
    * outside one, such as a schema inference) and its call site in
    * Spark's long form: the outermost Spark frame the job came from,
    * then the caller's frames, innermost first. A job of a SQL
    * execution is named by the execution's call site: AQE starts one
    * job per exchange, and those stage jobs carry no frame of the
    * caller.
    */
  final case class Job(execution: Option[Long], site: String)

  def of(spark: SparkSession)(action: => Any): Seq[Job] = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val executions = new ConcurrentHashMap[Long, String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId, x.details)
          ()
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val id = Option(j.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong)
        jobs.add(Job(id, id.flatMap(i => Option(executions.get(i))).getOrElse(
          j.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.details))))
        ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      action
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.asScala.toSeq
  }

  /** A job started inside a `DataFrameReader` call: a schema inference
    * (a read with a given schema starts none).
    */
  def startedByReader(site: String): Boolean =
    site.linesIterator.nextOption().getOrElse("").contains("DataFrameReader")

  /** The executed plans of the queries an action ran. */
  def plansOf(spark: SparkSession)(action: => Any): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan)
        ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      action
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }

  /** Every operator of `plans`, through adaptive plans, their query
    * stages, reused exchanges and the plans that built a cached
    * relation; an operator shared by several plans (a cache's build
    * plan) counts once.
    */
  def operators(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else p +: ((p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => Nil
      }) ++ p.children ++ p.subqueries).flatMap(walk)
    plans.flatMap(walk)
  }
}
