package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.state.ChangeSet
import graft.streaming.StateStore

/** The `graft-store` DataSource V2 table: SQL-facing time travel over the
  * versioned store plus bucket pruning from pushed-down key filters — the
  * DSv2 face of StateStore.read/readPartialLatest's guarantees.
  */
class StoreTableSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")

  private def mkState(n: Int, bump: Set[String] = Set.empty): State = {
    val assets = (0 until n).map { i =>
      val id = s"a$i"
      (id, "T", id, t0, if (bump(id)) t1 else t0, graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    Pipeline.emptyState(spark).copy(assets = assets)
  }

  private def store(buckets: Int = 8): (String, StateStore.Config) = {
    val root = Files.createTempDirectory("graft_dsv2_store").toString
    val cfg = StateStore.Config(buckets)
    StateStore.write(spark, root, 0L, mkState(64), None, cfg)
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a5").toDF("id"))
    StateStore.write(spark, root, 1L, mkState(64, bump = Set("a5")), Some(ch), cfg)
    (root, cfg)
  }

  private def load(root: String, version: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft-store")
      .option("path", root).option("table", "assets")
    version.fold(r)(v => r.option("version", v)).load()
  }

  private def shape(df: DataFrame): Set[(String, Timestamp)] =
    df.select("id", "last_seen").collect()
      .map(r => (r.getString(0), r.getTimestamp(1))).toSet

  test("the DSv2 table reads exactly what StateStore.read resolves, latest by default") {
    val (root, _) = store()
    shape(load(root)) shouldBe shape(StateStore.read(spark, root, 1L).assets)
    load(root).schema shouldBe graft.schema.Schemas.assetSchema
  }

  test("time travel: each version reads its own committed state through pointers") {
    val (root, _) = store()
    shape(load(root, Some(0L))) shouldBe shape(mkState(64).assets)
    shape(load(root, Some(1L))) shouldBe shape(mkState(64, bump = Set("a5")).assets)
    // v1 rewrote ONE bucket; the other 63 keys read through v0 pointers
    load(root, Some(1L)).where(col("id") =!= "a5").count() shouldBe 63L
  }

  test("an equality filter on the bucket key prunes partitions to one bucket") {
    val (root, _) = store()
    val all = load(root)
    val one = all.where(col("id") === "a5")
    // a5 landed alone in the v1 bucket rewrite; every populated bucket of
    // an 8-bucket/64-key store would otherwise contribute its files
    one.rdd.getNumPartitions should be < all.rdd.getNumPartitions
    one.collect().map(_.getString(0)) shouldBe Array("a5")
    one.head().getTimestamp(4) shouldBe t1
    // the scan itself advertises the pruning: 1 of 8 buckets survived
    one.queryExecution.executedPlan.toString should include("buckets=1/8")
  }

  test("an IN filter prunes to the union of the keys' buckets; rows still exact") {
    val (root, _) = store()
    val sel = load(root).where(col("id").isin("a3", "a17", "a42"))
    sel.rdd.getNumPartitions should be < load(root).rdd.getNumPartitions
    sel.collect().map(_.getString(0)).sorted shouldBe Array("a17", "a3", "a42")
  }

  test("a filter on a non-bucket column prunes nothing and stays exact") {
    val (root, _) = store()
    val all = load(root)
    val sel = all.where(col("last_seen") === t1) // only a5 was bumped in v1
    sel.rdd.getNumPartitions shouldBe all.rdd.getNumPartitions // no pruning claimed
    sel.collect().map(_.getString(0)) shouldBe Array("a5")
  }

  test("runtime filtering: a broadcast join on the bucket key prunes at execution") {
    // dynamic pruning, the join-driven twin of the literal-filter test:
    // the dim side's key values reach StoreScan.filter through Spark's
    // DPP subquery BEFORE partitions are planned, so only those keys'
    // buckets are read — observable through the planning probe because
    // the narrowing happens at execution, after plan strings are printed
    val (root, _) = store()
    // the dim must be FILE-backed: a local Seq constant-folds to a bare
    // LocalRelation, and DPP's selective-predicate gate needs a real
    // Filter-over-scan on the build side
    val dimPath = Files.createTempDirectory("graft_dsv2_dim").toString + "/dim"
    Seq("a5", "a17", "zz").toDF("id").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("id").startsWith("a"))
    val fact = load(root)
    StoreScanProbe.lastPlannedBuckets = -1
    val joined = fact.join(broadcast(dim), "id")
    joined.collect().map(_.getString(0)).sorted shouldBe Array("a17", "a5")
    // a5 and a17 hash into at most 2 of the 8 populated buckets
    StoreScanProbe.lastPlannedBuckets should be >= 1
    StoreScanProbe.lastPlannedBuckets should be <= 2
  }

  test("COUNT(*) answers from parquet footers, no data pages") {
    val (root, _) = store()
    // Dataset.count() runs exactly this plan
    val cnt = load(root).groupBy().count()
    cnt.queryExecution.executedPlan.toString should include("count=footers")
    cnt.head().getLong(0) shouldBe 64L
    // a filtered count still evaluates rows (pushed filters veto the
    // aggregate pushdown — bucket pruning is partition-level, not exact)
    val filtered = load(root).where(col("id") === "a5").groupBy().count()
    filtered.queryExecution.executedPlan.toString should not include "count=footers"
    filtered.head().getLong(0) shouldBe 1L
  }

  test("a LIMIT returns distinct rows and a full count reads every bucket") {
    val (root, _) = store()
    val got = load(root).limit(5).collect()
    got.length shouldBe 5
    got.map(_.getString(0)).distinct.length shouldBe 5
    // full table minus limit still reads everything (no over-pruning)
    load(root).count() shouldBe 64L
  }

  test("reported statistics let a small store table auto-broadcast, no hint") {
    val (root, _) = store()
    // corpus side: a plain parquet frame far over the broadcast threshold
    // only if stats were unknown — the STORE side reports its real ~KBs,
    // so the optimizer picks BroadcastHashJoin with the store as build
    val big = spark.range(0, 1000)
      .selectExpr("concat('a', CAST(id % 64 AS STRING)) AS id", "id AS payload")
    val joined = big.join(load(root), "id")
    joined.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
    joined.count() shouldBe 1000L
  }

  test("SQL face: a temp view over the table answers point lookups") {
    val (root, _) = store()
    load(root, Some(1L)).createOrReplaceTempView("store_assets_v1")
    val row = spark.sql(
      "SELECT id, last_seen FROM store_assets_v1 WHERE id = 'a5'").head()
    (row.getString(0), row.getTimestamp(1)) shouldBe ("a5", t1)
  }

  test("unknown table and uncommitted version fail loudly") {
    val (root, _) = store()
    val e1 = intercept[Exception] {
      spark.read.format("graft-store").option("path", root)
        .option("table", "nope").load()
    }
    e1.getMessage should include("unknown table")
    val e2 = intercept[Exception] { load(root, Some(99L)).collect() }
    e2.getMessage should include("no committed manifest")
  }

  test("VERSION AS OF across schema evolution: each version reads its own shape") {
    val root = Files.createTempDirectory("graft_dsv2_evolve").toString
    val cfg = StateStore.Config(buckets = 8)
    StateStore.write(spark, root, 0L, mkState(64), None, cfg)
    val base = mkState(64, bump = Set("a5"))
    val st1 = base.copy(assets = base.assets
      .withColumn("region", when(col("id") === "a5", lit("eu"))))
    val ch = ChangeSet.empty(spark).copy(assets = Seq("a5").toDF("id"))
    StateStore.write(spark, root, 1L, st1, Some(ch), cfg)
    // version 0 through the DSv2 table: pre-evolution shape
    load(root, Some(0L)).schema.fieldNames should not contain "region"
    // version 1 (and latest): evolved shape; the rewritten bucket carries
    // the value, inherited buckets' old files null-fill
    val v1 = load(root, Some(1L))
    v1.schema.fieldNames should contain("region")
    val regions = v1.select("id", "region").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    regions("a5") shouldBe Some("eu")
    regions("a0") shouldBe None
    load(root).schema.fieldNames should contain("region")
  }
}
