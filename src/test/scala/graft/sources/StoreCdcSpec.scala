package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.streaming.{AssetBuckets, ExceptAllDiff, StateStore}

/** The `graft-store-cdc` DataSource V2 change feed: version-offset
  * semantics, genesis vs future-only starts, checkpointed restart, the
  * stream and the batch diff against an independent `exceptAll`
  * reference, and the pruned-base retention contract.
  */
class StoreCdcSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")

  private def mkState(n: Int, bump: Map[String, Timestamp] = Map.empty): State = {
    val assets = (0 until n).map { i =>
      val id = s"a$i"
      (id, "T", id, t0, bump.getOrElse(id, t0), graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    Pipeline.emptyState(spark).copy(assets = assets)
  }

  private val cfg = StateStore.Config(buckets = 8)

  private def writeV(root: String, v: Long, n: Int,
      bump: Map[String, Timestamp], changedIds: Seq[String]): Unit = {
    val (st, loaded) =
      if (changedIds.isEmpty) (mkState(n, bump), None)
      else AssetBuckets(mkState(n, bump), changedIds, cfg)
    StateStore.write(spark, root, v, st, loaded, cfg)
  }

  private def stream(root: String, startingVersion: Option[Long]): DataFrame = {
    val r = spark.readStream.format("graft-store-cdc")
      .option("path", root).option("table", "assets")
    startingVersion.fold(r)(v => r.option("startingVersion", v)).load()
  }

  private def rowsOf(df: DataFrame): Seq[(String, Timestamp, String, Long)] =
    df.select("id", "last_seen", "change", "version").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2), r.getLong(3))).toSeq

  test("genesis stream emits v0 all-added, then each version's row-level diff") {
    val base = Files.createTempDirectory("graft_cdc_genesis").toString
    val root = base + "/store"
    writeV(root, 0L, 64, Map.empty, Nil)
    writeV(root, 1L, 64, Map("a5" -> t1), Seq("a5"))
    val q = stream(root, Some(-1L))
      .writeStream.format("memory").queryName("cdc_genesis")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = rowsOf(spark.table("cdc_genesis"))
      got.count(_._4 == 0L) shouldBe 64 // genesis: every v0 row added
      got.filter(_._4 == 0L).forall(_._3 == "added") shouldBe true
      // v1: the a5 update = removed old row + added new row, nothing else
      got.filter(_._4 == 1L).toSet shouldBe Set(
        ("a5", t0, "removed", 1L), ("a5", t1, "added", 1L))
    } finally q.stop()
  }

  test("default start emits only versions committed after the stream starts") {
    val base = Files.createTempDirectory("graft_cdc_future").toString
    val root = base + "/store"
    writeV(root, 0L, 16, Map.empty, Nil)
    writeV(root, 1L, 16, Map("a3" -> t1), Seq("a3"))
    val q = stream(root, None)
      .writeStream.format("memory").queryName("cdc_future")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      spark.table("cdc_future").count() shouldBe 0 // history not replayed
      writeV(root, 2L, 16, Map("a3" -> t1, "a7" -> t1), Seq("a7"))
      q.processAllAvailable()
      rowsOf(spark.table("cdc_future")).toSet shouldBe Set(
        ("a7", t0, "removed", 2L), ("a7", t1, "added", 2L))
    } finally q.stop()
  }

  test("restart from checkpoint resumes at the committed version") {
    val base = Files.createTempDirectory("graft_cdc_restart").toString
    val root = base + "/store"
    val out = base + "/out"
    writeV(root, 0L, 16, Map.empty, Nil)
    writeV(root, 1L, 16, Map("a3" -> t1), Seq("a3"))
    def run(): Unit = {
      val q = stream(root, Some(-1L))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", base + "/ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    spark.read.parquet(out).count() shouldBe (16 + 2)
    writeV(root, 2L, 16, Map("a3" -> t1, "a9" -> t1), Seq("a9"))
    run()
    val all = spark.read.parquet(out)
    all.count() shouldBe (16 + 2 + 2) // v2 only — nothing re-emitted
    rowsOf(all.where("version = 2")).toSet shouldBe Set(
      ("a9", t0, "removed", 2L), ("a9", t1, "added", 2L))
  }

  test("stream batches match diffVersions' batch semantics exactly") {
    // both are the per-bucket diff; the reference is two full reads
    val base = Files.createTempDirectory("graft_cdc_equiv").toString
    val root = base + "/store"
    writeV(root, 0L, 32, Map.empty, Nil)
    writeV(root, 1L, 32, Map("a1" -> t1, "a11" -> t1), Seq("a1", "a11"))
    val q = stream(root, Some(0L)) // changes strictly after v0
      .writeStream.format("memory").queryName("cdc_equiv")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    def triples(df: DataFrame): Seq[(String, Timestamp, String)] =
      df.select("id", "last_seen", "change").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).toSeq.sorted
    val reference = triples(ExceptAllDiff(
      StateStore.read(spark, root, 0L).assets, StateStore.read(spark, root, 1L).assets))
    reference should have size 4 // a1 and a11, each removed + added
    triples(spark.table("cdc_equiv")) shouldBe reference
    triples(StateStore.diffVersions(spark, root, 0L, 1L)
      .find(_.table == "assets").get.changed) shouldBe reference
  }

  test("the change feed carries struct, date, binary, decimal and array<struct> columns") {
    import graft.streaming.TableStore
    import org.apache.spark.sql.functions.lit
    val base = Files.createTempDirectory("graft_cdc_wide").toString
    val root = base + "/store"
    WideStore.write(spark, root)
    def streamed(table: String): DataFrame = {
      val q = spark.readStream.format("graft-store-cdc")
        .option("path", root).option("table", table).option("startingVersion", -1)
        .load()
        .writeStream.format("memory").queryName(s"cdc_$table")
        .option("checkpointLocation", s"$base/ckpt_$table")
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(s"cdc_$table")
    }
    // flat: every column but the map, so exceptAll can be the reference
    val flat = streamed("flat")
    def batch(v: Long) = flat.where(s"version = $v").drop("version")
    WideStore.bag(batch(0L)) shouldBe WideStore.bag(
      TableStore.read(spark, root, 0L, "flat").withColumn("change", lit("added")))
    val reference = WideStore.bag(ExceptAllDiff(
      TableStore.read(spark, root, 0L, "flat"), TableStore.read(spark, root, 1L, "flat")))
    reference.values.sum shouldBe 3 // row 3 removed and re-added, row 7 removed
    WideStore.bag(batch(1L)) shouldBe reference
    WideStore.bag(TableStore.diff(spark, root, "flat", 0L, 1L)) shouldBe reference
    // wide: the map column goes through the batch diff as well
    val wideV1 = streamed("wide").where("version = 1").drop("version")
    val wideDiff = TableStore.diff(spark, root, "wide", 0L, 1L)
    WideStore.bag(wideDiff) shouldBe WideStore.bag(wideV1)
    wideDiff.select("id", "change").as[(Long, String)].collect().sorted.toSeq shouldBe
      Seq((3L, "added"), (3L, "removed"), (7L, "removed"))
  }

  test("maxVersionsPerTrigger paces a genesis catch-up version by version") {
    val base = Files.createTempDirectory("graft_cdc_pace").toString
    val root = base + "/store"
    writeV(root, 0L, 16, Map.empty, Nil)
    writeV(root, 1L, 16, Map("a3" -> t1), Seq("a3"))
    writeV(root, 2L, 16, Map("a3" -> t1, "a7" -> t1), Seq("a7"))
    val q = spark.readStream.format("graft-store-cdc")
      .option("path", root).option("table", "assets")
      .option("startingVersion", -1).option("maxVersionsPerTrigger", 1)
      .load()
      .writeStream.format("memory").queryName("cdc_pace")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = rowsOf(spark.table("cdc_pace"))
      got.count(_._4 == 0L) shouldBe 16
      got.count(_._4 == 1L) shouldBe 2
      got.count(_._4 == 2L) shouldBe 2
      // one version per micro-batch: three non-empty batches
      q.recentProgress.map(_.numInputRows).count(_ > 0) shouldBe 3
    } finally q.stop()
  }

  test("the change feed incrementally maintains an aggregate that converges to the store") {
    // the IVM loop the CDC source exists for: a count-by-type view folded
    // from adds (+1) and removes (-1) must equal a fresh aggregate of the
    // LATEST store version after the stream drains — updates arrive as
    // remove+add pairs and cancel, drops arrive as bare removes
    val base = Files.createTempDirectory("graft_cdc_ivm").toString
    val root = base + "/store"
    def typed(ids: Seq[Int], bump: Map[String, Timestamp]): State = {
      val assets = ids.map { i =>
        val id = s"a$i"
        (id, s"T${i % 3}", id, t0, bump.getOrElse(id, t0), graft.schema.Schemas.Unexpired)
      }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
      Pipeline.emptyState(spark).copy(assets = assets)
    }
    StateStore.write(spark, root, 0L, typed(0 until 30, Map.empty), None, cfg)
    val (st1, l1) = AssetBuckets(typed(0 until 30, Map("a5" -> t1)), Seq("a5"), cfg)
    StateStore.write(spark, root, 1L, st1, l1, cfg)
    // v2 drops a0 and a1 entirely
    val (st2, l2) = AssetBuckets(typed(2 until 30, Map("a5" -> t1)), Seq("a0", "a1"), cfg)
    StateStore.write(spark, root, 2L, st2, l2, cfg)

    val view = scala.collection.mutable.HashMap.empty[String, Long]
    val q = spark.readStream.format("graft-store-cdc")
      .option("path", root).option("table", "assets").option("startingVersion", -1)
      .load()
      .writeStream
      .option("checkpointLocation", base + "/ckpt")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy("type", "change").count().collect().foreach { r =>
          val delta = if (r.getString(1) == "added") r.getLong(2) else -r.getLong(2)
          view.updateWith(r.getString(0))(c => Some(c.getOrElse(0L) + delta))
        }
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()

    val fresh = StateStore.read(spark, root, 2L).assets
      .groupBy("type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    view.filter(_._2 != 0).toMap shouldBe fresh
  }

  test("a pruned base version fails loudly instead of skipping changes") {
    val base = Files.createTempDirectory("graft_cdc_pruned").toString
    val root = base + "/store"
    writeV(root, 0L, 16, Map.empty, Nil)
    writeV(root, 1L, 16, Map("a3" -> t1), Seq("a3"))
    writeV(root, 2L, 16, Map("a3" -> t1, "a5" -> t1), Seq("a5"))
    StateStore.prune(spark, root, keepFrom = 2L)
    val q = stream(root, Some(0L))
      .writeStream.format("memory").queryName("cdc_pruned")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    messages should include("reseed")
  }

  test("a stream bound after evolution emits older versions null-filled under the evolved schema") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val base = Files.createTempDirectory("graft_cdc_evolve").toString
    val root = base + "/store"
    writeV(root, 0L, 8, Map.empty, Nil)
    val b1 = mkState(8, Map("a3" -> t1))
    val (st1, l1) = AssetBuckets(
      b1.copy(assets = b1.assets.withColumn("region", when(col("id") === "a3", lit("eu")))),
      Seq("a3"), cfg)
    StateStore.write(spark, root, 1L, st1, l1, cfg)
    val q = stream(root, Some(-1L))
      .writeStream.format("memory").queryName("cdc_evolved")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val out = spark.table("cdc_evolved")
      out.schema.fieldNames should contain("region")
      val got = out.select("id", "change", "version", "region").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), Option(r.getString(3))))
      // genesis rows (v0, written pre-evolution) null-fill the new column
      got.filter(_._3 == 0L).foreach(_._4 shouldBe None)
      // the evolved version's added row carries the value
      got.find(r => r._3 == 1L && r._2 == "added").get._4 shouldBe Some("eu")
    } finally q.stop()
  }

  test("CDC across a rebucket: moved rows cancel in their slice, the rebucket batch is empty") {
    // a stream tailing a store across a TableStore.rebucket (modulus
    // change) must NOT stop or mis-emit. Contract: slices pair bucket
    // residues mod gcd(8, 32), so a row that only moved buckets cancels
    // in its slice — the rebucket version's batch is exact and minimal
    // (empty here: content did not change), applying removes then adds
    // per batch reconstructs every version, and deltas resume
    // bucket-pruned afterwards.
    import graft.streaming.TableStore
    val base = Files.createTempDirectory("graft_cdc_rebucket").toString
    val root = base + "/store"
    val specs = Seq(TableStore.Spec("facts", Seq("id")))
    def facts(rows: (Long, String)*) = rows.toDF("id", "payload")
    TableStore.write(spark, root, 0L, specs,
      Map("facts" -> facts((1L to 40L).map(i => i -> s"p$i"): _*)),
      cfg = StateStore.Config(buckets = 8))
    TableStore.rebucket(spark, root, specs, StateStore.Config(buckets = 32)) // v1
    TableStore.write(spark, root, 2L, specs,
      Map("facts" -> facts(3L -> "NEW", 41L -> "ADDED")), delta = true,
      cfg = StateStore.Config(buckets = 32),
      deletes = Map("facts" -> Seq(7L).toDF("id")))

    val q = spark.readStream.format("graft-store-cdc")
      .option("path", root).option("table", "facts")
      .option("startingVersion", -1).option("maxVersionsPerTrigger", 1)
      .load()
      .writeStream.format("memory").queryName("cdc_rebucket")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("cdc_rebucket")
      .select("id", "payload", "change", "version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // apply each version's batch as a multiset delta (removes, then adds)
    // and check the view equals that version's stored content exactly
    val view = scala.collection.mutable.HashMap.empty[(Long, String), Int]
    for (v <- 0L to 2L) {
      val batch = got.filter(_._4 == v)
      batch.filter(_._3 == "removed").foreach { r =>
        view.updateWith((r._1, r._2))(c => Some(c.getOrElse(0) - 1))
      }
      batch.filter(_._3 == "added").foreach { r =>
        view.updateWith((r._1, r._2))(c => Some(c.getOrElse(0) + 1))
      }
      val stored = TableStore.read(spark, root, v, "facts")
        .as[(Long, String)].collect().groupBy(identity).view.mapValues(_.length).toMap
      view.filter(_._2 != 0).toMap shouldBe stored
      view.values.foreach(_ should be >= 0) // never transiently negative rows
    }
    // the rebucket batch (v1) is empty: content was identical
    got.filter(_._4 == 1L) shouldBe empty
    // and the post-rebucket delta (v2) is minimal again — bucket-pruned
    got.filter(_._4 == 2L).map(r => (r._1, r._2, r._3)).toSet shouldBe Set(
      (3L, "NEW", "added"), (41L, "ADDED", "added"),
      (3L, "p3", "removed"), (7L, "p7", "removed"))
  }

  test("a version evolving beyond the stream's bound schema fails loudly in planning") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val root = Files.createTempDirectory("graft_cdc_evolve_mid").toString
    writeV(root, 0L, 8, Map.empty, Nil)
    val b1 = mkState(8, Map("a3" -> t1))
    val (st1, l1) = AssetBuckets(
      b1.copy(assets = b1.assets.withColumn("region", when(col("id") === "a3", lit("eu")))),
      Seq("a3"), cfg)
    StateStore.write(spark, root, 1L, st1, l1, cfg)
    // a stream BOUND to the pre-evolution schema (started before v1) must
    // not emit v1 through the narrower shape — that would silently drop
    // the new column from the change feed
    val e = intercept[IllegalStateException] {
      StateStore.planCdc(spark, root, "assets", -1L, 1L,
        streamSchema = Some(graft.schema.Schemas.assetSchema))
    }
    e.getMessage should include("evolved")
    // the pre-evolution prefix alone still plans fine under the old schema
    StateStore.planCdc(spark, root, "assets", -1L, 0L,
      streamSchema = Some(graft.schema.Schemas.assetSchema)) should not be empty
  }
}
