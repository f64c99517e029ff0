package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.sources.Fixtures
import graft.state.ChangeSet
import java.nio.file.Files
import java.sql.Timestamp

/** The shadow-paging versioned state sink: a micro-batch must rewrite only
  * the hash buckets its keys touch (O(batch) write amplification), READ
  * only the buckets its candidate keys resolve to (O(batch) read I/O,
  * VERDICT r3 top item), untouched buckets resolve through manifest
  * pointers, and per-bucket pruning reclaims superseded bucket dirs with
  * no full-state rewrite ever.
  */
class StateStoreSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")

  /** State of `n` assets (ids a0..a<n-1>), empty other tables. */
  private def mkState(n: Int, bump: Set[String] = Set.empty): State = {
    val e = Pipeline.emptyState(spark)
    val assets = (0 until n).map { i =>
      val id = s"a$i"
      (id, "T", id, t0, if (bump(id)) t1 else t0, graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    e.copy(assets = assets)
  }

  /** Bucket dirs of `table`'s data WRITTEN AT version `v`, across both
    * layouts (legacy flat `v<v>/<table>` and the writer-unique
    * `v<v>/d-<token>/<table>` — resolved by directory walk, not via the
    * manifest, so it also sees data of pruned/orphaned versions).
    */
  private def ptDirs(root: String, v: Long, table: String): Set[String] = {
    val vDir = new java.io.File(s"$root/v$v")
    val tableDirs = Option(vDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).toSeq.flatMap { d =>
        if (d.getName == table) Seq(d)
        else if (d.getName.startsWith("d-"))
          Seq(new java.io.File(d, table)).filter(_.isDirectory)
        else Nil
      }
    tableDirs.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(f => f.isDirectory && f.getName.startsWith("pt=")).map(_.getName).toSet
  }

  private def assetRows(st: State): Set[(String, Timestamp)] =
    st.assets.collect().map(r =>
      (r.getAs[String]("id"), r.getAs[Timestamp]("last_seen"))).toSet

  test("a one-key change rewrites exactly one bucket; the rest resolve via pointers") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)

    StateStore.write(spark, root, 0L, mkState(64), changes = None, cfg)
    val v0Assets = ptDirs(root, 0L, "assets")
    v0Assets.size should be > 10 // 64 keys over 16 buckets: all/most populated

    // bump one key, declare only that key changed
    val changes = ChangeSet.empty(spark).copy(assets = Seq("a5").toDF("id"))
    val m1 = StateStore.write(spark, root, 1L, mkState(64, bump = Set("a5")), Some(changes), cfg)

    val v1Assets = ptDirs(root, 1L, "assets")
    v1Assets.size shouldBe 1 // O(batch), not O(state)
    ptDirs(root, 1L, "teams") shouldBe empty // untouched table: no dir at all

    // manifest: every v0 bucket still live, exactly one repointed to v1
    m1("assets").values.count(_ == 1L) shouldBe 1
    m1("assets").values.count(_ == 0L) shouldBe v0Assets.size - 1

    // read-back equals the full new state
    assetRows(StateStore.read(spark, root, 1L)) shouldBe assetRows(mkState(64, bump = Set("a5")))
    // and v0 still reads as the ORIGINAL state (time travel across the chain)
    assetRows(StateStore.read(spark, root, 0L)) shouldBe assetRows(mkState(64))
  }

  test("diffVersions reads only pointer-changed buckets and labels row changes") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(64), None, cfg)
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a5").toDF("id"))
    StateStore.write(spark, root, 1L, mkState(64, bump = Set("a5")), Some(ch), cfg)

    val diffs = StateStore.diffVersions(spark, root, 0L, 1L)
    val assets = diffs.find(_.table == "assets").get
    // read I/O is bounded by the write: ONE bucket changed, ONE dir read
    // per side — never a scan of the other 15 buckets
    assets.pathsOld.length shouldBe 1
    assets.pathsNew.length shouldBe 1

    val rows = assets.changed.collect().map(r => (r.getAs[String]("id"),
      r.getAs[Timestamp]("last_seen"), r.getAs[String]("change")))
    // only the changed KEY surfaces — the changed bucket's other rows are
    // identical in both versions and cancel out
    rows.toSet shouldBe Set(("a5", t1, "added"), ("a5", t0, "removed"))

    // untouched tables diff over zero paths
    val teams = diffs.find(_.table == "teams").get
    teams.pathsOld shouldBe empty
    teams.pathsNew shouldBe empty
    teams.changed.count() shouldBe 0L
  }

  test("redelivered version write is idempotent") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    val first = StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    val again = StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    again shouldBe first
    assetRows(StateStore.read(spark, root, 1L)) shouldBe assetRows(mkState(8, Set("a3")))
  }

  test("changing Config.buckets against an existing chain is refused") {
    val root = Files.createTempDirectory("graft_store").toString
    StateStore.write(spark, root, 0L, mkState(8), None, StateStore.Config(buckets = 16))
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    // incremental write under a different modulus would leave changed rows
    // outside the rewritten partitions silently stale (ADVICE r3)
    an[IllegalArgumentException] should be thrownBy
      StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch),
        StateStore.Config(buckets = 8))
    // a FULL write (changes=None) legitimately rebuckets
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), None, StateStore.Config(buckets = 8))
    assetRows(StateStore.read(spark, root, 1L)) shouldBe assetRows(mkState(8, Set("a3")))
  }

  test("per-bucket prune reclaims superseded bucket dirs; no write is ever a full rewrite") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(64), None, cfg)
    var bumped = Set.empty[String]
    for (v <- 1L to 3L) {
      bumped += s"a${v * 7}"
      val ch = ChangeSet.empty(spark).copy(assets = Seq(s"a${v * 7}").toDF("id"))
      StateStore.write(spark, root, v, mkState(64, bumped), Some(ch), cfg)
      // shadow paging: EVERY incremental write stays O(batch) — exactly the
      // one bucket the changed key hashes to, never a compaction rewrite
      ptDirs(root, v, "assets").size shouldBe 1
    }
    val before = ptDirs(root, 0L, "assets")
    // keep v2 (predecessor) + v3: v0/v1 manifests drop; v0's SUPERSEDED
    // bucket dirs (rewritten by v1-v3) are reclaimed, the rest survive as
    // backing files for v2/v3's untouched-bucket pointers
    StateStore.prune(spark, root, keepFrom = 2L)
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(2L, 3L)
    val after = ptDirs(root, 0L, "assets")
    after.size should be < before.size // superseded buckets reclaimed
    after should not be empty // referenced buckets MUST survive
    // latest state still reads complete and correct through the pruned chain
    assetRows(StateStore.read(spark, root, 3L)) shouldBe assetRows(mkState(64, bumped))
    // a pruned version is no longer a committed read point: fails loudly
    an[IllegalStateException] should be thrownBy StateStore.read(spark, root, 0L)
  }

  test("readPartialLatest loads exactly the candidate keys' buckets (O(batch) read I/O)") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    // state with assets + an owns edge + parent_of edges in BOTH directions
    // around a5: p->a5 (in-edge, discovered via the reverse index) and
    // a5->c (out-edge, via the parent_id candidate)
    val base = mkState(64).copy(
      owns = Seq(("o1", "t1", "Asset/a5", t0, null.asInstanceOf[Timestamp]))
        .toDF("id", "team_id", "asset_id", "start_time", "end_time"),
      parentOf = Seq(
        ("e1", "Asset/p", "Asset/a5", t0, t0, graft.schema.Schemas.Unexpired),
        ("e2", "Asset/a5", "Asset/c", t0, t0, graft.schema.Schemas.Unexpired),
        ("e3", "Asset/x", "Asset/y", t0, t0, graft.schema.Schemas.Unexpired))
        .toDF("id", "parent_id", "child_id", "first_seen", "last_seen", "expiration"))
    StateStore.write(spark, root, 0L, base, None, cfg)

    val cand = StateStore.Candidates(
      assetIds = Seq("a5").toDF("id"),
      teamIds = Seq("t1").toDF("identifier"),
      ownsAssetIds = Seq("Asset/a5").toDF("asset_id"),
      parentIds = Seq("Asset/a5").toDF("parent_id"),
      childIds = Seq("Asset/a5").toDF("child_id"))
    val p = StateStore.readPartialLatest(spark, root, Long.MaxValue, cand, cfg).get

    // read I/O is bounded by candidate count, not state size: one asset
    // bucket out of 16, one team/owns bucket, and parent_of buckets for
    // {a5 (out-edges), p (in-edge, via reverse-index discovery)} only
    p.paths("assets").size shouldBe 1
    p.paths("teams").size should be <= 1
    p.paths("owns").size shouldBe 1
    p.paths("parent_of").size should be <= 2

    // the loaded buckets hold ALL their rows: a5 present, both edges of a5
    // reachable, the unrelated x->y edge only if it shares a loaded bucket
    p.state.assets.filter($"id" === "a5").count() shouldBe 1
    p.state.parentOf.filter($"child_id" === "Asset/a5").count() shouldBe 1 // in-edge found
    p.state.parentOf.filter($"parent_id" === "Asset/a5").count() shouldBe 1 // out-edge found
    p.state.owns.count() shouldBe 1
  }

  test("a 1-event micro-batch against a 512-key state folds with O(1) loaded buckets per table") {
    // the VERDICT r3 top-item contract, end-to-end: candidatesOf derives
    // the key sets from the batch alone, readPartialLatest turns them into
    // bucket paths, the fold merges ONLY those partial frames, and the
    // write (with the loaded-bucket assertion armed) produces a version
    // whose full read is byte-correct — per-batch read, compute and write
    // all O(batch) while the state is 512 keys across all 32 buckets
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 32)
    StateStore.write(spark, root, 0L, mkState(512), None, cfg)
    ptDirs(root, 0L, "assets").size shouldBe 32 // every bucket populated

    val json = """{"Id": "web5", "Team": {"Id": "alpha", "Name": "alpha name"},
      "AssetType": "Hostname", "Identifier": "web5.example.org",
      "Annotations": [{"Key": "discovery/aws/account", "Value": "000000000000"}]}"""
    val batch = Seq(Env(0L, "alpha/web5", json, Seq(
      graft.schema.Schemas.MetadataEntry("version", "0.1.2"),
      graft.schema.Schemas.MetadataEntry("type", "Hostname"),
      graft.schema.Schemas.MetadataEntry("identifier", "web5.example.org")))).toDF()

    var partial: Option[StateStore.Partial] = None
    val stateFor: StateStore.Candidates => State = { cand =>
      val p = StateStore.readPartialLatest(spark, root, 0L, cand, cfg).get
      partial = Some(p); p.state
    }
    val (next, changes) =
      Pipeline.foldTracked(spark, stateFor, batch, Pipeline.Config(), 1704067200L)

    // read I/O bound, by path inspection: the event touches two asset keys
    // (the hostname + its derived AWS account), one team, one owns pair,
    // one parent edge — out of 32 populated asset buckets, at most 2 read
    val p = partial.get
    p.paths("assets").size should be <= 2
    p.paths("teams").size should be <= 1
    p.paths("owns").size should be <= 1
    p.paths("parent_of").size should be <= 1

    // the loaded-subset assertion is armed and the write is incremental
    val m1 = StateStore.write(spark, root, 1L, next, Some(changes), cfg, Some(p.loaded))
    m1("assets").values.count(_ == 1L) should be <= 2
    // full read-back: all 512 old assets intact + hostname + AWS account
    val full = StateStore.read(spark, root, 1L)
    full.assets.count() shouldBe 514
    full.assets.filter($"id" === "Hostname/web5.example.org").count() shouldBe 1
    full.assets.filter($"id" === "AWSAccount/arn:aws:iam::000000000000:root").count() shouldBe 1
    full.owns.count() shouldBe 1
    full.parentOf.count() shouldBe 1
  }

  test("a small micro-batch through applyBatch rewrites few buckets; state still matches replay") {
    val stateDir = Files.createTempDirectory("graft_state").toString
    val path = getClass.getResource("/fixtures/scenario.json").getPath
    val rows = Fixtures.loadJson(spark, path)
    val (b1, b2) = (rows.filter($"offset" < 19), rows.filter($"offset" >= 19))
    val cfg = Pipeline.Config()
    StreamIngest.applyBatch(b1, 0L, stateDir, cfg, 1704067200L)
    StreamIngest.applyBatch(b2, 1L, stateDir, cfg, 1704067200L)

    val v0 = ptDirs(stateDir, 0L, "assets")
    val v1 = ptDirs(stateDir, 1L, "assets")
    v1.size should be < v0.size // the 2-event batch touches O(batch) buckets

    val streamed = StateStore.readLatest(spark, stateDir, Long.MaxValue).get._2
    val replayed = Pipeline.replay(spark, rows)
    // select columns by name: the store reads in canonical schema order,
    // the pipeline emits in construction order
    def shape(st: State) = (
      st.assets.select("id", "type", "identifier", "first_seen", "last_seen", "expiration")
        .orderBy("id").collect().toSeq,
      st.teams.select("id", "identifier", "name").orderBy("id").collect().toSeq,
      st.owns.select("id", "team_id", "asset_id", "start_time", "end_time")
        .orderBy("id").collect().toSeq,
      st.parentOf.select("id", "parent_id", "child_id", "first_seen", "last_seen", "expiration")
        .orderBy("id").collect().toSeq)
    shape(streamed) shouldBe shape(replayed)
  }

  // --- write-concurrency + corruption (VERDICT r6 next #3) -----------------

  test("two folds racing one version: exactly one wins, loser gets a retryable error") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    // writer A commits v1 (bumps a3); writer B then tries to commit ITS v1
    // (bumps a5 — a genuinely different fold, not a redelivery)
    val chA = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(chA), cfg)
    val chB = ChangeSet.empty(spark).copy(assets = Seq("a5").toDF("id"))
    val lost = intercept[StateStore.ConcurrentWriteException] {
      StateStore.write(spark, root, 1L, mkState(8, Set("a5")), Some(chB), cfg)
    }
    // the loser's error is RETRYABLE (re-read head, re-run fold) ...
    StreamIngest.isRetryable(lost) shouldBe true
    // ... and the winner's committed state is untouched
    assetRows(StateStore.read(spark, root, 1L)) shouldBe assetRows(mkState(8, Set("a3")))
  }

  test("commit CAS: a head that moved past the write's predecessor fails loudly") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    val p0 = StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    // writer B computed v2 against head=v0; writer A commits v1 in between
    val chA = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(chA), cfg)
    // B's commit carries expectedPrev = v0 — the inherited pointers would
    // silently drop A's v1 changes (lost update), so the CAS rejects it
    val lost = intercept[StateStore.ConcurrentWriteException] {
      StateStore.commit(spark, root, 2L, cfg, p0, expectedPrev = Some(0L))
    }
    lost.getMessage should include("moved")
    StreamIngest.isRetryable(lost) shouldBe true
  }

  test("a garbled manifest (terminator intact) fails loudly, never an empty read") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    // flip a pointer digit in v1's manifest, keeping crc/END lines in
    // place; drop the LocalFileSystem .crc sidecar so the corruption
    // reaches the manifest's OWN integrity line (bit rot on a filesystem
    // without its own checksumming)
    val mp = java.nio.file.Paths.get(s"$root/v1/MANIFEST")
    val garbled = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
      .replaceFirst("assets (\\d+) 1", "assets $1 0")
    java.nio.file.Files.write(mp, garbled.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/v1/.MANIFEST.crc"))
    val e = intercept[StateStore.CorruptManifestException] {
      StateStore.read(spark, root, 1L)
    }
    e.getMessage should include("crc mismatch")
    // corruption is NOT retryable — backoff cannot repair bit rot
    StreamIngest.isRetryable(e) shouldBe false
    // and the chain refuses to silently skip past it too
    intercept[StateStore.CorruptManifestException] {
      StateStore.readLatest(spark, root, Long.MaxValue)
    }
  }

  test("a manifest with no terminator is a crash remnant: version invisible, predecessor reads") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    // truncate v1's manifest (drop crc+END): what a writer that predates
    // the atomic publish leaves when it crashes mid-write — not corruption
    // of a COMMITTED manifest
    val mp = java.nio.file.Paths.get(s"$root/v1/MANIFEST")
    val text = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
    java.nio.file.Files.write(mp,
      text.substring(0, text.indexOf("crc=")).getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$root/v1/.MANIFEST.crc"))
    val (v, st) = StateStore.readLatest(spark, root, Long.MaxValue).get
    v shouldBe 0L
    assetRows(st) shouldBe assetRows(mkState(8))
    // a FRESH remnant is refused retryably (it may be such a writer
    // mid-create, not a crash)
    val fresh = intercept[StateStore.ConcurrentWriteException] {
      StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    }
    fresh.getMessage should include("grace window")
    // once the remnant ages past the window, a RE-COMMIT of v1 reclaims
    // it (the redelivery path)
    mp.toFile.setLastModified(System.currentTimeMillis() - 2 * StateStore.RemnantGraceMs)
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    assetRows(StateStore.read(spark, root, 1L)) shouldBe assetRows(mkState(8, Set("a3")))
  }

  // --- schema evolution (VERDICT r6 next #4) -------------------------------

  test("additive schema evolution: inherited buckets null-fill; each version keeps its shape") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    // v1 evolves assets with a nullable `region` column, changing only a3
    val base = mkState(8, Set("a3"))
    val st1 = base.copy(assets = base.assets
      .withColumn("region", when(col("id") === "a3", lit("eu"))))
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    StateStore.write(spark, root, 1L, st1, Some(ch), cfg)
    // v0 keeps its own (pre-evolution) shape
    StateStore.read(spark, root, 0L).assets.schema.fieldNames should not contain "region"
    // v1 reads through ITS schema: changed bucket has the value, inherited
    // buckets (old files) null-fill
    val v1 = StateStore.read(spark, root, 1L).assets
    v1.schema.fieldNames should contain("region")
    val regions = v1.select("id", "region").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    regions("a3") shouldBe Some("eu")
    regions("a0") shouldBe None
  }

  test("narrowing the schema on an incremental write is refused; a full write may") {
    import org.apache.spark.sql.functions.lit
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    val wide = mkState(8)
    StateStore.write(spark, root, 0L,
      wide.copy(assets = wide.assets.withColumn("region", lit("eu"))), None, cfg)
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))
    // dropping `region` incrementally would leave inherited buckets
    // silently disagreeing with rewritten ones
    val e = intercept[IllegalArgumentException] {
      StateStore.write(spark, root, 1L, mkState(8, Set("a3")), Some(ch), cfg)
    }
    e.getMessage should include("narrows")
    // a FULL write rewrites every bucket — narrowing is then well-defined
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")), None, cfg)
    StateStore.read(spark, root, 1L).assets.schema.fieldNames should not contain "region"
  }

  test("a schema whose json contains 'crc=' does not fake manifest corruption") {
    // ADVICE r7: the crc line must be located by LINE position — a
    // recorded schema's metadata may legitimately contain the substring
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.MetadataBuilder
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    val meta = new MetadataBuilder().putString("comment", "beware crc=cafe here").build()
    val base = mkState(8)
    StateStore.write(spark, root, 0L, base.copy(assets = base.assets
      .withColumn("region", lit("eu").as("region", meta))), None, cfg)
    // the manifest now records a schema line containing "crc=" mid-line;
    // an indexOf-anchored body extraction would truncate there and raise
    // a false (non-retryable!) CorruptManifestException on a healthy file
    val st = StateStore.read(spark, root, 0L)
    st.assets.schema.fieldNames should contain("region")
    assetRows(st) shouldBe assetRows(mkState(8))
  }

  test("an orphaned promoted dir (crashed racer) never affects reads and is prune-reclaimed") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(64), None, cfg)
    var bumped = Set.empty[String]
    for (v <- 1L to 3L) {
      bumped += s"a${v * 7}"
      val ch = ChangeSet.empty(spark).copy(assets = Seq(s"a${v * 7}").toDF("id"))
      StateStore.write(spark, root, v, mkState(64, bumped), Some(ch), cfg)
    }
    // a racer that crashed after promoting but before the manifest CAS
    // leaves a writer-unique dir no manifest references — plant one
    val orphan = new java.io.File(s"$root/v1/d-deadbeef/assets/pt=0")
    orphan.mkdirs() shouldBe true
    new java.io.File(orphan, "junk.parquet").createNewFile() shouldBe true
    // reads resolve ONLY through manifest-recorded dirs: untouched
    assetRows(StateStore.read(spark, root, 3L)) shouldBe assetRows(mkState(64, bumped))
    // once the version leaves the retention window, the orphan goes too
    StateStore.prune(spark, root, keepFrom = 2L)
    new java.io.File(s"$root/v1/d-deadbeef").exists() shouldBe false
    assetRows(StateStore.read(spark, root, 3L)) shouldBe assetRows(mkState(64, bumped))
  }

  test("prune reclaims staging dirs orphaned by crashed writers") {
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(8), None, cfg)
    StateStore.write(spark, root, 1L, mkState(8, Set("a3")),
      Some(ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))), cfg)
    // a writer that crashed mid-write leaves its staging dir behind
    val orphan = new java.io.File(s"$root/.staging-v2-deadbeef/assets")
    orphan.mkdirs() shouldBe true
    StateStore.prune(spark, root, keepFrom = 1L)
    new java.io.File(s"$root/.staging-v2-deadbeef").exists() shouldBe false
    // live data untouched
    assetRows(StateStore.read(spark, root, 1L)) shouldBe assetRows(mkState(8, Set("a3")))
  }

  test("bucket-pruned partial reads resolve through the evolved schema too") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = Files.createTempDirectory("graft_store").toString
    val cfg = StateStore.Config(buckets = 16)
    StateStore.write(spark, root, 0L, mkState(32), None, cfg)
    val base = mkState(32, Set("a3"))
    StateStore.write(spark, root, 1L, base.copy(assets = base.assets
        .withColumn("region", when(col("id") === "a3", lit("eu")))),
      Some(ChangeSet.empty(spark).copy(assets = Seq("a3").toDF("id"))), cfg)
    // candidates spanning a REWRITTEN bucket (a3) and an INHERITED one
    // (some other id): the fold's partial read must see the evolved
    // column in both, value in the former, null-fill in the latter
    val cand = StateStore.Candidates(
      assetIds = Seq("a3", "a7").toDF("id"),
      teamIds = Seq.empty[String].toDF("identifier"),
      ownsAssetIds = Seq.empty[String].toDF("asset_id"),
      parentIds = Seq.empty[String].toDF("parent_id"),
      childIds = Seq.empty[String].toDF("child_id"))
    val p = StateStore.readPartialLatest(spark, root, Long.MaxValue, cand, cfg).get
    p.state.assets.schema.fieldNames should contain("region")
    val regions = p.state.assets.select("id", "region").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    regions("a3") shouldBe Some("eu")
    regions("a7") shouldBe None
  }
}
