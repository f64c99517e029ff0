package graft.graph

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.schema.Schemas

/** The inventory query facade against a hand-built snapshot — semantics
  * mirrored from the reference's endpoint tests: exact (not prefix)
  * identifier match (inventory_test.go:299-314), valid_at boundary
  * behavior (inventory_test.go:291-298), page/size windows and size=0
  * (inventory_test.go:133-161).
  */
class InventorySpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val st = State(
    assets = Seq(
      ("Hostname/a", "Hostname", "a", ts("2022-01-01 00:00:00"), ts("2022-01-20 00:00:00"), ts("2022-02-01 00:00:00")),
      ("Hostname/ab", "Hostname", "ab", ts("2022-01-01 00:00:00"), ts("2022-01-20 00:00:00"), Schemas.Unexpired),
      ("DockerImage/a", "DockerImage", "a", ts("2022-03-01 00:00:00"), ts("2022-03-02 00:00:00"), Schemas.Unexpired))
      .toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration"),
    teams = Seq(("t1", "t1", "Team One"), ("t2", "t2", "Team Two"))
      .toDF("id", "identifier", "name"),
    owns = Seq(
      ("t1~Hostname/a", "t1", "Hostname/a", ts("2022-01-01 00:00:00"), null.asInstanceOf[Timestamp]),
      ("t2~Hostname/a", "t2", "Hostname/a", ts("2022-01-02 00:00:00"), ts("2022-01-10 00:00:00")))
      .toDF("id", "team_id", "asset_id", "start_time", "end_time"),
    parentOf = Seq(
      ("p~c", "AWSAccount/x", "Hostname/a", ts("2022-01-01 00:00:00"), ts("2022-01-02 00:00:00"), Schemas.Unexpired))
      .toDF("id", "parent_id", "child_id", "first_seen", "last_seen", "expiration"))

  test("identifier filter is exact, never prefix") {
    Inventory.assets(st, identifier = Some("a")).collect()
      .map(_.getAs[String]("id")).toSet shouldBe Set("Hostname/a", "DockerImage/a")
    Inventory.assets(st, assetType = Some("Hostname"), identifier = Some("a"))
      .collect().map(_.getAs[String]("id")).toSeq shouldBe Seq("Hostname/a")
  }

  test("valid_at: first_seen <= T < expiration") {
    def at(s: String) = Inventory.assets(st, validAt = Some(ts(s)))
      .collect().map(_.getAs[String]("id")).toSet
    at("2022-01-15 00:00:00") shouldBe Set("Hostname/a", "Hostname/ab")
    at("2022-02-01 00:00:00") shouldBe Set("Hostname/ab") // expiration is exclusive
    at("2022-01-01 00:00:00") shouldBe Set("Hostname/a", "Hostname/ab") // first_seen inclusive
    at("2021-12-31 00:00:00") shouldBe Set.empty
  }

  test("pagination windows by id order; size 0 returns everything") {
    Inventory.assets(st, pag = Inventory.Page(0, 2)).collect()
      .map(_.getAs[String]("id")).toSeq shouldBe Seq("DockerImage/a", "Hostname/a")
    Inventory.assets(st, pag = Inventory.Page(1, 2)).collect()
      .map(_.getAs[String]("id")).toSeq shouldBe Seq("Hostname/ab")
    Inventory.assets(st).count() shouldBe 3
  }

  test("per-asset edge endpoints: owners, parents, children") {
    Inventory.owners(st, "Hostname/a").collect()
      .map(r => (r.getAs[String]("team_id"), r.getAs[Timestamp]("end_time") == null))
      .toSet shouldBe Set(("t1", true), ("t2", false))
    Inventory.parents(st, "Hostname/a").collect()
      .map(_.getAs[String]("parent_id")).toSeq shouldBe Seq("AWSAccount/x")
    Inventory.children(st, "AWSAccount/x").collect()
      .map(_.getAs[String]("child_id")).toSeq shouldBe Seq("Hostname/a")
    Inventory.children(st, "Hostname/a").count() shouldBe 0
    Inventory.ownersWithTeams(st, "Hostname/a").collect()
      .map(_.getAs[String]("name")).toSet shouldBe Set("Team One", "Team Two")
  }

  test("store-backed point lookup reads O(keys) bucket dirs and answers every endpoint") {
    // ingest the fixture scenario through the streaming sink, then answer
    // the per-asset endpoints from a bucket-pruned read — the reference's
    // per-key index lookups (inventory.go:382-404) against snapshot-store
    // state, with read I/O bounded by path inspection
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString
    val rows = graft.sources.Fixtures.loadJson(spark,
      getClass.getResource("/fixtures/scenario.json").getPath)
    graft.streaming.StreamIngest.applyBatch(rows, 0L, stateDir, graft.ingest.Pipeline.Config(), 1704067200L)
    val full = graft.streaming.StateStore.readLatest(spark, stateDir, Long.MaxValue).get._2

    val id = "Hostname/web0.example.org"
    val p = Inventory.lookup(spark, stateDir, assetIds = Seq(id), teamIds = Seq("alpha")).get
    // read bound: one asset bucket + one team bucket + one owns bucket +
    // in/out edge buckets (the AWS-account parent discovered via the
    // reverse index), out of everything the full state occupies
    p.paths("assets").size should be <= 1
    p.paths("teams").size should be <= 1
    p.paths("owns").size should be <= 1
    p.paths("parent_of").size should be <= 2

    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // every point endpoint answers identically from the partial state
    rowsOf(Inventory.assets(p.state, assetType = Some("Hostname"),
        identifier = Some("web0.example.org"))) shouldBe
      rowsOf(Inventory.assets(full, assetType = Some("Hostname"),
        identifier = Some("web0.example.org")))
    rowsOf(Inventory.owners(p.state, id)) shouldBe rowsOf(Inventory.owners(full, id))
    rowsOf(Inventory.parents(p.state, id)) shouldBe rowsOf(Inventory.parents(full, id))
    rowsOf(Inventory.children(p.state, id)) shouldBe rowsOf(Inventory.children(full, id))
    rowsOf(Inventory.teams(p.state, Some("alpha"))) shouldBe rowsOf(Inventory.teams(full, Some("alpha")))
    Inventory.parents(p.state, id).count() should be >= 1L // the AWS-account in-edge was found
  }

  test("changesSince: CDC feed reads only what the lag wrote; no-change is None") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val rows = graft.sources.Fixtures.loadJson(spark,
      getClass.getResource("/fixtures/scenario.json").getPath)
    graft.streaming.StreamIngest.applyBatch(rows, 0L, stateDir,
      graft.ingest.Pipeline.Config(), 1704067200L)
    // one refresh event, LATER batch time: exactly that asset's last_seen moves
    graft.streaming.StreamIngest.applyBatch(
      rows.filter(org.apache.spark.sql.functions.col("value").isNotNull).limit(1),
      1L, stateDir, graft.ingest.Pipeline.Config(), 1704070800L)

    val (latest, diffs) = Inventory.changesSince(spark, stateDir, sinceVersion = 0L).get
    latest shouldBe 1L
    val assets = diffs.find(_.table == "assets").get
    // the one-event batch touched O(1) buckets; the diff read is bounded
    // by the same pointer set, not by the v0 state
    assets.pathsNew.size should be <= 2
    val changes = assets.changed.collect()
    changes should not be empty
    changes.map(_.getAs[String]("change")).toSet shouldBe Set("added", "removed")
    // a consumer already at the latest version reads NOTHING
    Inventory.changesSince(spark, stateDir, sinceVersion = 1L) shouldBe None

    // a consumer whose lag exceeds retention gets reseed guidance, not a
    // silent wrong diff: batch 2 (keepVersions = 1) prunes v0's manifest
    graft.streaming.StreamIngest.applyBatch(
      rows.filter(org.apache.spark.sql.functions.col("value").isNotNull).limit(1),
      2L, stateDir, graft.ingest.Pipeline.Config(), 1704074400L)
    val ex = intercept[IllegalArgumentException] {
      Inventory.changesSince(spark, stateDir, sinceVersion = 0L)
    }
    ex.getMessage should include("pruned")
    // the still-retained predecessor keeps working
    Inventory.changesSince(spark, stateDir, sinceVersion = 1L).get._1 shouldBe 2L
  }

  test("changesSince spans an additive schema evolution; narrowing is rejected") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.streaming.StateStore
    val stateDir = java.nio.file.Files.createTempDirectory("graft_cdc_evolve").toString
    val cfg = StateStore.Config(buckets = 8)
    def mk(n: Int, bump: Set[String]): State = {
      val assets = (0 until n).map { i =>
        val id = s"a$i"
        (id, "T", id, ts("2024-01-01 00:00:00"),
          if (bump(id)) ts("2024-02-01 00:00:00") else ts("2024-01-01 00:00:00"),
          Schemas.Unexpired)
      }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
      graft.ingest.Pipeline.emptyState(spark).copy(assets = assets)
    }
    StateStore.write(spark, stateDir, 0L, mk(16, Set.empty), None, cfg)
    val base = mk(16, Set("a3"))
    val (st1, l1) = graft.streaming.AssetBuckets(base.copy(assets = base.assets
      .withColumn("region", when(col("id") === "a3", lit("eu")))), Seq("a3"), cfg)
    StateStore.write(spark, stateDir, 1L, st1, l1, cfg)
    // the poller's diff spans the evolution: changed rows arrive in the
    // NEWER schema — the added row carries the value, the removed
    // (pre-evolution) row null-fills
    val (latest, diffs) = Inventory.changesSince(spark, stateDir, sinceVersion = 0L).get
    latest shouldBe 1L
    val got = diffs.find(_.table == "assets").get.changed
      .select("id", "change", "region").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    got shouldBe Set(("a3", "added", Some("eu")), ("a3", "removed", None))
    // a NARROWING chain is refused at diff time (fields vanish from the
    // feed otherwise) — full-write v2 back to the canonical shape, then
    // diff v1 -> v2
    StateStore.write(spark, stateDir, 2L, mk(16, Set("a3", "a5")), None, cfg)
    val ex = intercept[IllegalArgumentException] {
      Inventory.changesSince(spark, stateDir, sinceVersion = 1L)
    }
    ex.getMessage should include("narrowing")
  }
}
