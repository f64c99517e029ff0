package graft

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Every job's start and end as the listener bus delivers them: which jobs
  * ran, under which local properties, and how they ended. [[jobs]] first
  * drains the bus, so it sees every event posted before the call.
  */
final class JobLog private (spark: SparkSession) extends SparkListener {
  import JobLog.Job
  private val byId = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new Properties)
    byId.put(e.jobId, Job(e.jobId, e.time,
      p.stringPropertyNames.asScala.map(k => k -> p.getProperty(k)).toMap, None))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byId.computeIfPresent(e.jobId, (_, j) => j.copy(succeeded = Some(e.jobResult == JobSucceeded)))

  def jobs: Seq[Job] = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    byId.values.asScala.toSeq.sortBy(_.id)
  }
}

object JobLog {
  final case class Job(id: Int, startMs: Long, props: Map[String, String],
      succeeded: Option[Boolean]) {
    def group: Option[String] = props.get("spark.jobGroup.id")
    def description: Option[String] = props.get("spark.job.description")
    def tags: Set[String] =
      props.get("spark.job.tags").fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
    def ended: Boolean = succeeded.nonEmpty
  }

  /** Runs `f` with a [[JobLog]] registered on the session's context. */
  def during[A](spark: SparkSession)(f: JobLog => A): A = {
    val log = new JobLog(spark)
    spark.sparkContext.addSparkListener(log)
    try f(log) finally spark.sparkContext.removeSparkListener(log)
  }

  /** Sleeps about `ms` inside a task, returning early once the task is
    * killed — a slow task that still stops when its job is cancelled.
    */
  def nap(ms: Long): Unit = {
    val tc = TaskContext.get()
    val end = System.nanoTime + ms * 1000000L
    while (System.nanoTime < end && (tc == null || !tc.isInterrupted())) Thread.sleep(10)
  }
}
