package graft.exec

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.{JobLog, SparkSpec}

/** The failure, propagation and nesting paths of [[graft.exec.all]]. */
class ExecSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def sc = spark.sparkContext

  /** The graft.exec tag of the call the current action belongs to. */
  private def callTag(): Set[String] = sc.getJobTags().filter(_.startsWith("graft-exec-"))

  test("the first failure cancels its siblings' jobs and is rethrown as is") {
    val planted = new IllegalStateException("planted")
    val tags = ConcurrentHashMap.newKeySet[String]()
    JobLog.during(spark) { log =>
      // each sibling runs four 5 s jobs back to back unless cancelled
      def slow(): Long = {
        callTag().foreach(tags.add)
        (1 to 4).map(_ => sc.parallelize(1 to 2, 2).map { i => JobLog.nap(5000); i }.count()).sum
      }
      def failing(): Long = {
        callTag().foreach(tags.add)
        // fail only once both siblings' first jobs are running
        val deadline = System.nanoTime + 30.seconds.toNanos
        while (log.jobs.count(j => j.tags.exists(tags.contains) && !j.ended) < 2 &&
            System.nanoTime < deadline) Thread.sleep(20)
        throw planted
      }
      val t0 = System.nanoTime
      val thrown = intercept[IllegalStateException] {
        graft.exec.all(spark)(Seq(() => slow(), () => failing(), () => slow()))
      }
      val thrownAtMs = System.currentTimeMillis
      thrown should be theSameInstanceAs planted
      // the siblings alone would need 20 s
      (System.nanoTime - t0).nanos should be < 15.seconds

      tags.asScala should have size 1
      val tag = tags.asScala.head
      val ofCall = log.jobs.filter(_.tags(tag))
      ofCall should have size 2
      all(ofCall.map(_.succeeded)) shouldBe Some(false)
      all(ofCall.map(_.startMs)) should be <= thrownAtMs
      Thread.sleep(1000)
      log.jobs.filter(_.tags(tag)) should have size 2
    }
  }

  test("actions run under the caller's job group, description and session") {
    sc.setJobGroup("exec-caller", "group description")
    sc.setJobDescription("exec-caller-description")
    def snapshot(): Seq[Option[String]] =
      Seq("spark.jobGroup.id", "spark.job.description", "spark.job.tags",
        "spark.job.interruptOnCancel").map(k => Option(sc.getLocalProperty(k)))
    val before = snapshot()
    JobLog.during(spark) { log =>
      val (seen, after) =
        try {
          val seen = graft.exec.all(spark)(Seq.fill(3)(() => {
            sc.parallelize(1 to 4, 2).count()
            (SparkSession.active eq spark, callTag())
          }))
          (seen, snapshot())
        } finally sc.clearJobGroup()
      after shouldBe before
      all(seen.map(_._1)) shouldBe true
      val tags = seen.flatMap(_._2).toSet
      tags should have size 1
      val jobs = log.jobs.filter(_.group.contains("exec-caller"))
      jobs should have size 3
      all(jobs.map(_.description)) shouldBe Some("exec-caller-description")
      all(jobs.map(_.tags)) should contain (tags.head)
    }
  }

  test("nested calls complete while every gate slot is busy") {
    val width = sc.defaultParallelism
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    def leaf(): Long = sc.parallelize(1 to 4, 2).count()
    def outer(): Long = {
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try {
        Thread.sleep(200)
        graft.exec.all(spark)(Seq.fill(3)(() => leaf())).sum
      } finally running.decrementAndGet()
    }
    // two callers with one action per slot each: every slot holds an outer
    // action while its nested call runs
    implicit val ec: ExecutionContext = ExecutionContext.global
    val callers = Seq.fill(2)(Future(graft.exec.all(spark)(Seq.fill(width)(() => outer())).sum))
    Await.result(Future.sequence(callers), 2.minutes) shouldBe Seq.fill(2)(width * 3 * 4L)
    peak.get shouldBe width
  }
}
