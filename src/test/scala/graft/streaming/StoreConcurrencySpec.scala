package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.tools.ConcurrencySoak
import java.nio.file.Files

/** Multi-writer soak at suite scale (VERDICT r10 next #4): N threads
  * race mixed full/upsert/delete commits against ONE store root through
  * the real CAS path. FaultInjectionSpec proves single-step crash
  * atomicity; this proves the MULTI-WRITER contract over many rounds —
  * exactly-one-winner per version, a contiguous chain, zero lost
  * updates (final content == serial replay of the winners), and
  * liveness (every thread keeps landing commits; starvation fails
  * loudly inside the soak). The record-scale twin is
  * [[graft.tools.ConcurrencyProbe]] (8×50, hardening record).
  */
class StoreConcurrencySpec extends AnyFunSuite with SparkSpec with Matchers {

  test("4 writers x 16 versions: one winner each, contiguous chain, serial-replay equality") {
    val root = Files.createTempDirectory("graft-conc").toString
    val r = ConcurrencySoak.run(spark, root, threads = 4, targetVersions = 16L)
    // exactly one thread's write() returned success per version — a
    // second "winner" is the silent-lost-update pathology the r11
    // content-signature CAS exists to close
    r.falseSuccesses shouldBe 0
    r.winners.keySet shouldBe (1L to r.versions).toSet
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe
      (0L to r.versions)
    // zero lost updates: what the store serves equals the in-memory
    // serial replay of the winning ops in version order
    r.finalRows shouldBe r.replayRows
    // the soak saw real contention (otherwise this proves nothing) and
    // no thread starved (the soak enforces its own liveness bound)
    withClue(s"retry histogram ${r.retryHistogram}: ") {
      r.totalRetries should be > 0
    }
  }

  test("same-version same-bucket-set racers with DIFFERENT content: loser fails retryably") {
    import spark.implicits._
    // the surgical regression leg for the content-signature CAS: two
    // deltas touching the IDENTICAL bucket set at the same version used
    // to produce identical pointer maps, so the loser passed the
    // idempotence check and its data silently vanished
    val root = Files.createTempDirectory("graft-conc").toString
    val spec = TableStore.Spec("t", Seq("k"))
    val cfg = StateStore.Config()
    def frame(v: String) = Seq((1L, v), (2L, v)).toDF("k", "v")
    TableStore.write(spark, root, 0L, Seq(spec), Map("t" -> frame("init")), cfg = cfg)
    TableStore.write(spark, root, 1L, Seq(spec), Map("t" -> frame("winner")),
      delta = true, cfg = cfg)
    // same keys -> same touched buckets -> same pointer map; only the
    // content signature can tell this apart from a redelivery
    val ex = intercept[StateStore.ConcurrentWriteException] {
      TableStore.write(spark, root, 1L, Seq(spec), Map("t" -> frame("loser")),
        delta = true, cfg = cfg)
    }
    ex.getMessage should include("different content")
    // ...while a true byte-identical redelivery still succeeds silently
    TableStore.write(spark, root, 1L, Seq(spec), Map("t" -> frame("winner")),
      delta = true, cfg = cfg)
    TableStore.read(spark, root, 1L, "t").as[(Long, String)].collect().toMap
      .apply(1L) shouldBe "winner"
  }

  // --- the graph store through the shared signed write path ---------------

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  /** Eight assets at `t0`; `a3` last seen at `a3Seen`. */
  private def graphState(a3Seen: String) = {
    import spark.implicits._
    val assets = (0 until 8).map { i =>
      val id = s"a$i"
      (id, "T", id, t0,
        if (id == "a3") java.sql.Timestamp.valueOf(a3Seen) else t0,
        graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    graft.ingest.Pipeline.emptyState(spark).copy(assets = assets)
  }

  private def a3Seen(root: String, v: Long): java.sql.Timestamp =
    StateStore.read(spark, root, v).assets.filter("id = 'a3'")
      .select("last_seen").head().getTimestamp(0)

  test("graph store: same-version same-bucket-set racers with DIFFERENT content: loser fails retryably") {
    import spark.implicits._
    // the graph twin of the TableStore leg above: two folds of v1 that
    // change the same asset (so the same ChangeSet, the same touched
    // bucket and the same pointer map) but to different values
    val root = Files.createTempDirectory("graft-conc").toString
    val cfg = StateStore.Config(buckets = 8)
    val ch = graft.state.ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 0L, graphState("2024-01-01 00:00:00"), None, cfg)
    StateStore.write(spark, root, 1L, graphState("2024-02-01 00:00:00"), Some(ch), cfg)
    val ex = intercept[StateStore.ConcurrentWriteException] {
      StateStore.write(spark, root, 1L, graphState("2024-03-01 00:00:00"), Some(ch), cfg)
    }
    ex.getMessage should include("different content")
    StreamIngest.isRetryable(ex) shouldBe true
    // ...while a byte-identical redelivery still succeeds silently
    StateStore.write(spark, root, 1L, graphState("2024-02-01 00:00:00"), Some(ch), cfg)
    a3Seen(root, 1L) shouldBe java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    StateStore.readManifest(spark, root, 1L).get.sigs.keySet should contain("assets")
  }

  test("graph store: a manifest without signatures still reads and takes redelivery, pointer-only") {
    import spark.implicits._
    // manifests committed before the graph tables recorded signatures:
    // rewrite v1's manifest as such a store left it (no sig: lines)
    val root = Files.createTempDirectory("graft-conc").toString
    val cfg = StateStore.Config(buckets = 8)
    val ch = graft.state.ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 0L, graphState("2024-01-01 00:00:00"), None, cfg)
    StateStore.write(spark, root, 1L, graphState("2024-02-01 00:00:00"), Some(ch), cfg)
    val m = StateStore.readManifest(spark, root, 1L).get
    Files.writeString(java.nio.file.Paths.get(s"$root/v1/MANIFEST"),
      StateStore.renderManifest(cfg, m.pointers, m.schemas, m.dirs, m.keys,
        sigs = Map.empty))
    StateStore.readManifest(spark, root, 1L).get.sigs shouldBe empty
    a3Seen(root, 1L) shouldBe java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    // redelivery against it compares pointers only: the identical fold
    // succeeds, and so does a different fold onto the same buckets, which
    // is exactly what a pointer map cannot tell apart — the committed
    // content stays the first writer's either way
    StateStore.write(spark, root, 1L, graphState("2024-02-01 00:00:00"), Some(ch), cfg)
    StateStore.write(spark, root, 1L, graphState("2024-03-01 00:00:00"), Some(ch), cfg)
    a3Seen(root, 1L) shouldBe java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    StateStore.readManifest(spark, root, 1L).get.sigs shouldBe empty
    // the next version builds on it and is signed again
    val ch2 = graft.state.ChangeSet.empty(spark).copy(assets = Seq("a5").toDF("id"))
    StateStore.write(spark, root, 2L, graphState("2024-02-01 00:00:00"), Some(ch2), cfg)
    StateStore.readManifest(spark, root, 2L).get.sigs.keySet should contain("assets")
  }

  test("graph store: every version StreamIngest.applyBatch commits is signed") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-conc").toString
    val rows = graft.sources.Fixtures.loadJson(spark,
      getClass.getResource("/fixtures/scenario.json").getPath)
    val cfg = graft.ingest.Pipeline.Config()
    StreamIngest.applyBatch(rows.filter(col("offset") < 11), 0L, root, cfg, 1704067200L)
    StreamIngest.applyBatch(rows.filter(col("offset") >= 11), 1L, root, cfg, 1704067200L)
    for (v <- Seq(0L, 1L)) withClue(s"v$v: ") {
      val m = StateStore.readManifest(spark, root, v).get
      // every bucket the version wrote carries its signature
      val writtenHere = m.pointers.map { case (t, ps) =>
        t -> ps.collect { case (pt, pv) if pv == v => pt }.toSet }.filter(_._2.nonEmpty)
      writtenHere should not be empty
      m.sigs.map { case (t, s) => t -> s.keySet } shouldBe writtenHere
    }
  }
}
