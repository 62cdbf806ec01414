package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

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
}
