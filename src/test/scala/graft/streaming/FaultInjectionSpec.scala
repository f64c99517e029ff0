package graft.streaming

import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.DataFrame
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.state.ChangeSet
import java.sql.Timestamp

/** The store's crash matrix (VERDICT r8 next #3): a kill point at EACH
  * step of the commit path — staging data write, promote rename,
  * manifest tmp create, torn manifest tmp, manifest publish rename,
  * prune's reclaim delete — must leave the PREDECESSOR version fully
  * readable, and a retried fold must converge to content identical to a
  * never-faulted control store.
  * Plus the prune-vs-pinned-reader leg: a batch reader's pin is a
  * retention watermark prune may never reclaim past.
  *
  * Faults are injected below the FileSystem API ([[FaultyFs]], the
  * `faulty://` scheme), so Spark's own parquet task I/O routes through
  * the same traps as the store's metadata operations.
  */
class FaultInjectionSpec extends AnyFunSuite with SparkSpec with Matchers
    with BeforeAndAfterEach {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")
  private val cfg = StateStore.Config(buckets = 8)

  override def beforeEach(): Unit = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    FaultyFs.disarm()
  }
  override def afterEach(): Unit = FaultyFs.disarm()

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-fault").toString
    s"faulty://$d"
  }

  private def mkState(n: Int, bump: Set[String] = Set.empty): State = {
    val e = Pipeline.emptyState(spark)
    val assets = (0 until n).map { i =>
      val id = s"a$i"
      (id, "T", id, t0, if (bump(id)) t1 else t0, graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    e.copy(assets = assets)
  }

  private def changed(ids: String*): ChangeSet =
    ChangeSet.empty(spark).copy(assets = ids.toDF("id"))

  private def assetRows(df: DataFrame): Set[(String, Timestamp)] =
    df.select("id", "last_seen").as[(String, Timestamp)].collect().toSet

  /** v0 = 40 assets; the v1 fold bumps a3/a17/a29. Returns the root. */
  private def seedV0(root: String): Unit = {
    StateStore.write(spark, root, 0L, mkState(40), changes = None, cfg)
  }
  private val bumped = Set("a3", "a17", "a29")
  private def writeV1(root: String): Unit =
    StateStore.write(spark, root, 1L, mkState(40, bumped),
      changes = Some(changed(bumped.toSeq: _*)), cfg)

  /** Control store: the same two folds with no fault anywhere. */
  private lazy val control: (Set[(String, Timestamp)], StateStore.Pointers) = {
    val root = tmp()
    seedV0(root); writeV1(root)
    val m = StateStore.readManifest(spark, root, 1L).get
    (assetRows(StateStore.read(spark, root, 1L).assets), m.pointers)
  }

  /** The shared post-fault contract: v0 intact, retry converges to the
    * control store's exact content and pointer map.
    */
  private def checkRecovery(root: String): Unit = {
    // predecessor fully readable mid-crash
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(0L)
    assetRows(StateStore.read(spark, root, 0L).assets) shouldBe
      (0 until 40).map(i => (s"a$i", t0)).toSet
    // the retried fold converges byte-identically to the control
    FaultyFs.disarm()
    writeV1(root)
    assetRows(StateStore.read(spark, root, 1L).assets) shouldBe control._1
    StateStore.readManifest(spark, root, 1L).get.pointers shouldBe control._2
  }

  test("kill point: staging data write fails mid-job") {
    val root = tmp(); seedV0(root)
    FaultyFs.arm("create", ".staging-v1")
    intercept[Exception] { writeV1(root) }
    checkRecovery(root)
  }

  test("a failed table staging stops its sibling stagings and leaves no staging dir") {
    val root = tmp(); seedV0(root)
    // a full two-table v1: assets stage in one slow task (100 ms a row
    // unless the job is cancelled); teams fail at their first file create,
    // a second into their job, once the assets job is running
    def slowly(ms: Long) = org.apache.spark.sql.functions.udf { (s: String) =>
      graft.JobLog.nap(ms); s }.asNondeterministic()
    val st = mkState(40, bumped)
    val multi = st.copy(
      assets = st.assets.coalesce(1).withColumn("identifier", slowly(100)($"identifier")),
      teams = Seq(("t1", "t1", "team one")).toDF("id", "identifier", "name")
        .withColumn("name", slowly(1000)($"name")))
    FaultyFs.arm("create", "/teams/")
    graft.JobLog.during(spark) { log =>
      spark.sparkContext.setJobGroup("faulted-write", "faulted-write")
      try intercept[Exception] { StateStore.write(spark, root, 1L, multi, changes = None, cfg) }
      finally spark.sparkContext.clearJobGroup()
      val staging = log.jobs.filter(_.group.contains("faulted-write"))
      staging.size should be >= 2
      all(staging.map(_.ended)) shouldBe true
    }
    new java.io.File(root.stripPrefix("faulty://")).list()
      .filter(_.startsWith(".staging-v1")) shouldBe empty
    checkRecovery(root)
  }

  test("kill point: promote rename fails") {
    val root = tmp(); seedV0(root)
    // exclude task-attempt I/O: only the store's own promote rename of
    // the staging dir itself is the kill point here
    FaultyFs.arm("rename", ".staging-v1", pathExcludes = "_temporary")
    intercept[Exception] { writeV1(root) }
    checkRecovery(root)
  }

  /** What a failed manifest publish must leave under `v1`: no promoted
    * `d-<token>` dir, no `.MANIFEST.tmp-*`, nothing at the final path.
    */
  private def v1Clean(root: String): Unit = {
    val v1 = new java.io.File(root.stripPrefix("faulty://"), "v1")
    val left = Option(v1.list()).getOrElse(Array.empty[String])
    left.filter(n => n.startsWith("d-") || n.startsWith(".MANIFEST.tmp")) shouldBe empty
    left should not contain "MANIFEST"
  }

  test("kill point: manifest create fails after promote (no orphan dir left)") {
    val root = tmp(); seedV0(root)
    FaultyFs.arm("create", "v1/.MANIFEST.tmp")
    intercept[java.io.IOException] { writeV1(root) }
    v1Clean(root)
    checkRecovery(root)
  }

  test("kill point: manifest publish rename fails (no orphan dir or tmp left)") {
    val root = tmp(); seedV0(root)
    FaultyFs.arm("rename", "v1/.MANIFEST.tmp")
    intercept[java.io.IOException] { writeV1(root) }
    v1Clean(root)
    checkRecovery(root)
  }

  test("kill point: torn manifest body (crash mid-write, no END)") {
    val root = tmp(); seedV0(root)
    FaultyFs.armTorn("v1/.MANIFEST.tmp", bytes = 24)
    intercept[java.io.IOException] { writeV1(root) }
    // the torn bytes stay in the tmp, which is deleted: no remnant to age
    // out, so the retried fold commits at once
    v1Clean(root)
    StateStore.readManifest(spark, root, 1L) shouldBe None
    checkRecovery(root)
  }

  test("kill point: prune's reclaim delete fails mid-sweep") {
    val root = tmp(); seedV0(root); writeV1(root)
    StateStore.write(spark, root, 2L, mkState(40, bumped + "a5"),
      changes = Some(changed("a5")), cfg)
    FaultyFs.arm("delete", "pt=")
    intercept[java.io.IOException] { StateStore.prune(spark, root, keepFrom = 2L) }
    FaultyFs.disarm()
    // the surviving version reads completely through the half-pruned tree
    assetRows(StateStore.read(spark, root, 2L).assets) shouldBe
      (0 until 40).map(i => (s"a$i", if ((bumped + "a5")(s"a$i")) t1 else t0)).toSet
    // a re-run completes the reclaim; the survivor still reads
    StateStore.prune(spark, root, keepFrom = 2L)
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(2L)
    assetRows(StateStore.read(spark, root, 2L).assets).size shouldBe 40
  }

  test("prune vs pinned batch reader: the pin is a retention watermark") {
    val root = tmp(); seedV0(root); writeV1(root)
    StateStore.write(spark, root, 2L, mkState(40, bumped + "a5"),
      changes = Some(changed("a5")), cfg)
    // a batch reader resolves v0 and pins it for the span of its read
    StateStore.pinVersion(spark, root, 0L, token = "reader-1")
    val pinnedRead = StateStore.read(spark, root, 0L).assets // lazy!
    StateStore.prune(spark, root, keepFrom = 2L)
    // the pin held retention: v0 (and its referenced buckets) survive
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(0L, 1L, 2L)
    assetRows(pinnedRead) shouldBe (0 until 40).map(i => (s"a$i", t0)).toSet
    // release + re-prune: now v0/v1 are reclaimed and only v2 survives
    StateStore.unpin(spark, root, "reader-1")
    StateStore.prune(spark, root, keepFrom = 2L)
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(2L)
    assetRows(StateStore.read(spark, root, 2L).assets).size shouldBe 40
    // an unparseable pin fails LOUDLY instead of silently reclaiming
    StateStore.pinVersion(spark, root, 2L, "reader-2")
    val pinFile = new java.io.File(root.stripPrefix("faulty://"), "pins/reader-2")
    java.nio.file.Files.writeString(pinFile.toPath, "not-a-version")
    intercept[IllegalStateException] { StateStore.prune(spark, root, 3L) }
  }

  test("fault during a TableStore incremental write leaves the predecessor intact too") {
    val root = tmp()
    val specs = Seq(TableStore.Spec("t", Seq("k")))
    TableStore.write(spark, root, 0L, specs,
      Map("t" -> (1L to 20L).map(i => (i, s"p$i")).toDF("k", "p")), cfg = cfg)
    FaultyFs.arm("create", ".staging-v1")
    intercept[Exception] {
      TableStore.write(spark, root, 1L, specs,
        Map("t" -> Seq((3L, "NEW")).toDF("k", "p")), delta = true, cfg = cfg)
    }
    FaultyFs.disarm()
    TableStore.read(spark, root, 0L, "t").count() shouldBe 20
    TableStore.write(spark, root, 1L, specs,
      Map("t" -> Seq((3L, "NEW")).toDF("k", "p")), delta = true, cfg = cfg)
    TableStore.read(spark, root, 1L, "t")
      .as[(Long, String)].collect().toMap.apply(3L) shouldBe "NEW"
  }
}
