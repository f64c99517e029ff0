package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.schema.Schemas.MetadataEntry
import graft.sources.Fixtures
import java.nio.file.Files
import java.sql.Timestamp

/** Streaming ingestion semantics (reference: stream/kafka at-least-once
  * consumer + offset-store-after-handler): the same scenario streamed in
  * micro-batches must land on the same state as batch replay, and
  * reprocessing a batch (at-least-once redelivery) must be idempotent —
  * the analog of kafka_test.go:136-211.
  */
case class Env(offset: Long, key: String, value: String, metadata: Seq[MetadataEntry])

class StreamingSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private lazy val fixtureRows: Seq[Env] = {
    val path = getClass.getResource("/fixtures/scenario.json").getPath
    Fixtures.loadJson(spark, path).collect().toSeq.map { r =>
      Env(r.getAs[Long]("offset"), r.getAs[String]("key"), r.getAs[String]("value"),
        r.getSeq[org.apache.spark.sql.Row](3).map(m =>
          MetadataEntry(m.getAs[String]("key"), m.getAs[String]("value"))))
    }.sortBy(_.offset)
  }

  private def collectShape(st: State) = (
    st.assets.collect().map(r => (r.getAs[String]("id"), r.getAs[String]("type"),
      r.getAs[Timestamp]("first_seen"), r.getAs[Timestamp]("last_seen"),
      r.getAs[Timestamp]("expiration"))).toSet,
    st.teams.collect().map(r => (r.getAs[String]("identifier"), r.getAs[String]("name"))).toSet,
    st.owns.collect().map(r => (r.getAs[String]("team_id"), r.getAs[String]("asset_id"),
      r.getAs[Timestamp]("start_time"), r.getAs[Timestamp]("end_time"))).toSet,
    st.parentOf.collect().map(r => (r.getAs[String]("parent_id"), r.getAs[String]("child_id"),
      r.getAs[Timestamp]("first_seen"), r.getAs[Timestamp]("expiration"))).toSet)

  test("streamed micro-batches reach the exact state of batch replay") {
    val stateDir = Files.createTempDirectory("graft_state").toString
    val ckptDir = Files.createTempDirectory("graft_ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Env]
    val query = StreamIngest.start(source.toDF(), stateDir, ckptDir)
    try {
      val (batch1, batch2) = fixtureRows.splitAt(11)
      source.addData(batch1)
      query.processAllAvailable()
      source.addData(batch2)
      query.processAllAvailable()
    } finally query.stop()

    val streamed = StateStore.readLatest(spark, stateDir, Long.MaxValue).get._2
    val path = getClass.getResource("/fixtures/scenario.json").getPath
    val batch = Pipeline.replay(spark, Fixtures.loadJson(spark, path))
    collectShape(streamed) shouldBe collectShape(batch)
  }

  test("the DSv2 replay source drives the full ingest to the exact batch-replay state") {
    // scenario fixture → graft-replay log → SupportsAdmissionControl-paced
    // micro-batches → Pipeline fold → versioned store: the whole ingest
    // path over Spark's own source API (no MemoryStream shortcut), rate
    // limit forcing a multi-batch run, final state byte-equal to batch
    // replay
    val base = Files.createTempDirectory("graft_replay_e2e").toString
    val log = base + "/scenario.jsonl"
    val fixture = getClass.getResource("/fixtures/scenario.json").getPath
    graft.sources.ReplayLog.toLog(spark, fixture, log)
    val stateDir = base + "/state"
    val ckptDir = base + "/ckpt"
    val src = StreamIngest.replaySource(spark, log, maxOffsetsPerTrigger = Some(7L))
    val query = StreamIngest.start(src, stateDir, ckptDir)
    val paced =
      try {
        query.processAllAvailable()
        query.recentProgress.map(_.numInputRows).filter(_ > 0)
      } finally query.stop()
    // the rate limit actually paced the run into multiple micro-batches
    paced.max should be <= 7L
    paced.length should be >= 3

    val streamed = StateStore.readLatest(spark, stateDir, Long.MaxValue).get._2
    val batch = Pipeline.replay(spark, Fixtures.loadJson(spark, fixture))
    collectShape(streamed) shouldBe collectShape(batch)
  }

  test("a malformed record mid-log halts the strict stream; committed prefix survives") {
    // E4 over the DSv2 source: the reference halts its consumer on a
    // handler error with offsets stored only for handled messages — here
    // the strict fold fails the micro-batch holding the malformed record,
    // the query dies loudly, and the store still holds exactly the
    // previously committed prefix
    val base = Files.createTempDirectory("graft_replay_strict").toString
    val log = base + "/bad.jsonl"
    val fixture = getClass.getResource("/fixtures/malformed_mid.json").getPath
    graft.sources.ReplayLog.toLog(spark, fixture, log)
    val stateDir = base + "/state"
    // 2 offsets per trigger: batch 0 = the two valid records (commits),
    // batch 1 contains the malformed offset 2 (fails)
    val src = StreamIngest.replaySource(spark, log, maxOffsetsPerTrigger = Some(2L))
    val query = StreamIngest.start(src, stateDir, base + "/ckpt")
    val ex = intercept[Exception] {
      try query.processAllAvailable() finally query.stop()
    }
    Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ") should include("strict")

    val streamed = StateStore.readLatest(spark, stateDir, Long.MaxValue).get._2
    val prefix = Pipeline.replay(spark,
      Fixtures.loadJson(spark, fixture).filter($"offset" < 2))
    collectShape(streamed) shouldBe collectShape(prefix)
  }

  test("a NEW query on the same checkpoint resumes mid-scenario (crash/restart)") {
    // the closest analog of the reference's resume-after-crash consumer
    // test (kafka_test.go:136-211): the first query is STOPPED mid-
    // scenario and a brand-new StreamingQuery picks up from the same
    // checkpoint + state dir, processing only the remaining offsets
    val stateDir = Files.createTempDirectory("graft_state").toString
    val ckptDir = Files.createTempDirectory("graft_ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Env]
    val (batch1, batch2) = fixtureRows.splitAt(11)

    val q1 = StreamIngest.start(source.toDF(), stateDir, ckptDir)
    try {
      source.addData(batch1)
      q1.processAllAvailable()
    } finally q1.stop()

    // "driver restart": a fresh query object, same checkpoint location
    val q2 = StreamIngest.start(source.toDF(), stateDir, ckptDir)
    try {
      source.addData(batch2)
      q2.processAllAvailable()
    } finally q2.stop()

    val streamed = StateStore.readLatest(spark, stateDir, Long.MaxValue).get._2
    val path = getClass.getResource("/fixtures/scenario.json").getPath
    val batch = Pipeline.replay(spark, Fixtures.loadJson(spark, path))
    collectShape(streamed) shouldBe collectShape(batch)
  }

  test("reprocessing a micro-batch is idempotent (at-least-once => exactly-once state)") {
    val stateDir = Files.createTempDirectory("graft_state").toString
    val (batch1, batch2) = fixtureRows.splitAt(11)
    val cfg = Pipeline.Config()
    StreamIngest.applyBatch(batch1.toDF(), 0L, stateDir, cfg, 1704067200L)
    StreamIngest.applyBatch(batch2.toDF(), 1L, stateDir, cfg, 1704067200L)
    val once = collectShape(StateStore.read(spark, stateDir, 1L))
    // redelivery: the driver crashed before committing the checkpoint and
    // batch 1 arrives again — the rebuild must not double-apply
    StreamIngest.applyBatch(batch2.toDF(), 1L, stateDir, cfg, 1704067200L)
    val twice = collectShape(StateStore.read(spark, stateDir, 1L))
    twice shouldBe once
  }

  test("old versions drop out of the committed listing; the predecessor survives for redelivery") {
    val stateDir = Files.createTempDirectory("graft_state").toString
    val cfg = Pipeline.Config()
    val batches = fixtureRows.grouped(8).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamIngest.applyBatch(b.toDF(), i.toLong, stateDir, cfg, 1704067200L)
    }
    // per-bucket prune after each batch keeps {predecessor, latest} as the
    // only committed READ POINTS (older versions lose their manifests; their
    // still-referenced bucket dirs survive as backing files)
    val n = batches.length.toLong // 3 batches => keep v1 (predecessor) + v2
    StateStore.committedVersions(spark, stateDir, Long.MaxValue) shouldBe Seq(n - 2, n - 1)
    // the latest state still reads complete through inherited pointers
    val streamed = collectShape(StateStore.read(spark, stateDir, n - 1))
    val path = getClass.getResource("/fixtures/scenario.json").getPath
    streamed shouldBe collectShape(Pipeline.replay(spark, Fixtures.loadJson(spark, path)))
  }
}
