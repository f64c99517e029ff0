package foldbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Job, task and micro-batch records from Spark's public listeners, kept in
  * memory until [[dump]]. A job carries its description (the fold's
  * `fold:*` phase tag when the library set one), its scheduler start/end
  * times and the summed metrics of its tasks.
  */
final class Tracer(spark: SparkSession) {

  private final class Job(val id: Int, val desc: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class Tasks {
    var tasks, gcMs, spill, shuffleRead, shuffleWrite, written = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentHashMap[Int, Tasks]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[JMap[String, AnyRef]]()
  private var queryId: java.util.UUID = _

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobs.put(e.jobId, new Job(e.jobId, desc.getOrElse(""), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val jobId = stageJob.getOrDefault(e.stageId, -1)
      val m = e.taskMetrics
      val t = tasks.computeIfAbsent(jobId, _ => new Tasks)
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.gcMs += m.jvmGCTime
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.written += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.id == queryId && p.numInputRows > 0) {
        val d = new JMap[String, AnyRef]()
        p.durationMs.asScala.foreach { case (k, v) => d.put(k, v) }
        progress.add(Driver.record("batch" -> p.batchId, "rows" -> p.numInputRows,
          "duration_ms" -> d))
      }
    }
  }

  /** Start recording; only `query`'s micro-batches are kept. */
  def attach(query: StreamingQuery): Unit = {
    queryId = query.id
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(queryListener)
  }

  /** Everything recorded, once the listener buses have delivered every job
    * end and `batches` micro-batch progress events (or 5 s have passed).
    */
  def dump(batches: Int): JMap[String, AnyRef] = {
    val until = System.currentTimeMillis() + 5000
    while ((jobs.values.asScala.exists(_.end < 0) || progress.size < batches) &&
        System.currentTimeMillis() < until)
      Thread.sleep(20)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(queryListener)
    val js = new JList[AnyRef]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val t = Option(tasks.get(j.id)).getOrElse(new Tasks)
      js.add(Driver.record("id" -> j.id, "desc" -> j.desc, "start_ms" -> j.start,
        "end_ms" -> j.end, "tasks" -> t.tasks, "gc_ms" -> t.gcMs, "spill" -> t.spill,
        "shuffle_read" -> t.shuffleRead, "shuffle_write" -> t.shuffleWrite,
        "written" -> t.written))
    }
    Driver.record("jobs" -> js, "progress" -> new JList[AnyRef](progress))
  }
}
