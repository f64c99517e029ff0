package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.streaming.{AssetBuckets, StateStore}

/** The store as a Spark catalog: plain SQL table access, native
  * `VERSION AS OF` time travel, pushdown surviving the catalog path, and
  * the read-only + no-TIMESTAMP contracts.
  */
class StoreCatalogSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val t1 = Timestamp.valueOf("2024-02-01 00:00:00")

  private def mkState(n: Int, bump: Set[String]): State = {
    val assets = (0 until n).map { i =>
      val id = s"a$i"
      (id, "T", id, t0, if (bump(id)) t1 else t0, graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    Pipeline.emptyState(spark).copy(assets = assets)
  }

  /** Fresh store + a uniquely named catalog pointing at it (the catalog
    * manager caches initialized catalogs by name).
    */
  private def catalogFor(tag: String): String = {
    val root = Files.createTempDirectory(s"graft_cat_$tag").toString
    val cfg = StateStore.Config(buckets = 8)
    StateStore.write(spark, root, 0L, mkState(64, Set.empty), None, cfg)
    val (st1, l1) = AssetBuckets(mkState(64, Set("a5")), Seq("a5"), cfg)
    StateStore.write(spark, root, 1L, st1, l1, cfg)
    val cat = s"graftstore_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    cat
  }

  test("plain SQL reads the latest committed version through the catalog") {
    val cat = catalogFor("latest")
    spark.sql(s"SELECT count(*) FROM $cat.assets").head().getLong(0) shouldBe 64L
    spark.sql(s"SELECT last_seen FROM $cat.assets WHERE id = 'a5'")
      .head().getTimestamp(0) shouldBe t1
  }

  test("VERSION AS OF time-travels through the manifest chain") {
    val cat = catalogFor("tt")
    spark.sql(s"SELECT last_seen FROM $cat.assets VERSION AS OF 0 WHERE id = 'a5'")
      .head().getTimestamp(0) shouldBe t0
    spark.sql(s"SELECT last_seen FROM $cat.assets VERSION AS OF 1 WHERE id = 'a5'")
      .head().getTimestamp(0) shouldBe t1
  }

  test("bucket pruning survives the catalog path") {
    val cat = catalogFor("prune")
    val all = spark.sql(s"SELECT * FROM $cat.assets")
    val one = spark.sql(s"SELECT * FROM $cat.assets WHERE id = 'a5'")
    one.rdd.getNumPartitions should be < all.rdd.getNumPartitions
    one.queryExecution.executedPlan.toString should include("buckets=1/8")
  }

  test("mutations and TIMESTAMP AS OF are rejected loudly") {
    val cat = catalogFor("ro")
    val e1 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.assets VALUES " +
        "('x', 'T', 'x', TIMESTAMP'2024-01-01', TIMESTAMP'2024-01-01', TIMESTAMP'2024-01-01')")
    }
    e1.getMessage.toLowerCase should (include("read-only") or include("unsupported") or include("does not support"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.assets TIMESTAMP AS OF '2024-01-01'").collect()
    }
    e2.getMessage should include("VERSION AS OF")
  }

  test("the four store tables are listed") {
    val cat = catalogFor("ls")
    spark.sql(s"SHOW TABLES IN $cat").collect().map(_.getString(1)).sorted shouldBe
      Array("assets", "owns", "parent_of", "teams")
  }

  test("VERSION AS OF returns each version's own schema after evolution") {
    val root = Files.createTempDirectory("graft_cat_evolve").toString
    val cfg = StateStore.Config(buckets = 8)
    StateStore.write(spark, root, 0L, mkState(64, Set.empty), None, cfg)
    val base = mkState(64, Set("a5"))
    val (st1, l1) = AssetBuckets(base.copy(assets = base.assets
      .withColumn("region", when(col("id") === "a5", lit("eu")))), Seq("a5"), cfg)
    StateStore.write(spark, root, 1L, st1, l1, cfg)
    val cat = "graftstore_evolve"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    // pre-evolution version keeps its shape through PLAIN SQL
    spark.sql(s"SELECT * FROM $cat.assets VERSION AS OF 0")
      .schema.fieldNames should not contain "region"
    // evolved version (and latest): new column, inherited buckets null
    spark.sql(s"SELECT region FROM $cat.assets VERSION AS OF 1 WHERE id = 'a5'")
      .head().getString(0) shouldBe "eu"
    spark.sql(s"SELECT region FROM $cat.assets WHERE id = 'a0'")
      .head().isNullAt(0) shouldBe true
  }

  test("an unknown table raises the standard analysis error, not a planning failure") {
    val cat = catalogFor("nosuch")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.no_such_table")
    }
    e.getMessage should include("TABLE_OR_VIEW_NOT_FOUND")
  }

  test("a generic TableStore root is self-describing: SQL reads the corpus frames with time travel") {
    import graft.ext.CorpusIndex
    val root = Files.createTempDirectory("graft_cat_frames").toString
    val docs = Seq(
      (1L, "web", "alpha beta gamma delta epsilon zeta"),
      (2L, "web", "eta theta iota kappa lambda mu nu"),
      (3L, "books", "xi omicron pi rho sigma tau upsilon")).toDF("doc_id", "source", "text")
    CorpusIndex.buildTokens(spark, root, docs) // v0
    CorpusIndex.appendTokenDocs(spark, root, // v1: one arrival
      Seq((4L, "web", "phi chi psi")).toDF("doc_id", "source", "text"))
    val cat = "graftframes"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", CorpusIndex.tokensPath(root))
    // the catalog lists the manifest-recorded table, not the graph names
    spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet shouldBe Set("tokens")
    // numeric columns flow through the DSv2 reader; count(*) still
    // answers from parquet footers
    spark.sql(s"SELECT count(*) FROM $cat.tokens").head().getLong(0) shouldBe
      CorpusIndex.tokenRows(docs).count() + 3
    // native time travel: v0 predates doc 4
    spark.sql(
      s"SELECT count(DISTINCT doc_id) FROM $cat.tokens VERSION AS OF 0")
      .head().getLong(0) shouldBe 3L
    spark.sql(
      s"SELECT max(pos) FROM $cat.tokens VERSION AS OF 1 WHERE doc_id = 4")
      .head().getLong(0) shouldBe 2L
  }

  test("VERSION AS OF resolves against the requested version's manifest, not the head") {
    // a table present at v0 but absent from the head (the spec set
    // changed) must still time-travel; a table that only exists at the
    // head must not resolve at versions predating it (ADVICE r9)
    import graft.streaming.TableStore
    val root = Files.createTempDirectory("graft_cat_verres").toString
    val cfg = StateStore.Config(buckets = 8)
    TableStore.write(spark, root, 0L,
      Seq(TableStore.Spec("old_frame", Seq("k"))),
      Map("old_frame" -> Seq(("a", 1L), ("b", 2L)).toDF("k", "v")), cfg = cfg)
    TableStore.write(spark, root, 1L,
      Seq(TableStore.Spec("new_frame", Seq("k"))),
      Map("new_frame" -> Seq(("c", 3L)).toDF("k", "v")), cfg = cfg)
    val cat = "graftverres"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    // head lists only the current spec set
    spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet shouldBe Set("new_frame")
    // the dropped table still time-travels to the version that has it
    spark.sql(s"SELECT count(*) FROM $cat.old_frame VERSION AS OF 0")
      .head().getLong(0) shouldBe 2L
    // but not to a version that doesn't
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.old_frame VERSION AS OF 1")
    }.getMessage should include("TABLE_OR_VIEW_NOT_FOUND")
    // and the head path still refuses it outright
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.old_frame")
    }.getMessage should include("TABLE_OR_VIEW_NOT_FOUND")
    // the future-only table refuses versions predating it
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT * FROM $cat.new_frame VERSION AS OF 0")
    }.getMessage should include("TABLE_OR_VIEW_NOT_FOUND")
  }

  test("map, struct, date, binary, decimal and array<struct> columns read through graft-store and SQL") {
    import graft.streaming.TableStore
    val root = Files.createTempDirectory("graft_cat_wide").toString
    WideStore.write(spark, root)
    val cat = "graftwide"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", root)
    for (v <- 0L to 1L) {
      val want = WideStore.bag(TableStore.read(spark, root, v, "wide"))
      want.values.sum shouldBe (if (v == 0L) 12 else 11)
      WideStore.bag(spark.read.format("graft-store").option("path", root)
        .option("table", "wide").option("version", v).load()) shouldBe want
      WideStore.bag(spark.sql(s"SELECT * FROM $cat.wide VERSION AS OF $v")) shouldBe want
    }
  }

  test("array-typed store columns read through SQL: the shingle and centroid tables") {
    import graft.ext.{CorpusIndex, VectorIndex}
    val root = Files.createTempDirectory("graft_cat_arr").toString
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "web", "a completely different sentence about spark catalyst plans")
    ).toDF("doc_id", "source", "text")
    CorpusIndex.buildShingles(spark, root, docs)
    val cat = "graftsh"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.path", CorpusIndex.shinglesPath(root))
    val got = spark.sql(
      s"SELECT doc_id, size(hs) AS n, aggregate(hs, 0L, (a, x) -> a + x) AS s " +
        s"FROM $cat.shingles ORDER BY doc_id").collect()
    val want = CorpusIndex.shingleRows(docs)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("hs")).as("n"),
        aggregate(col("hs"), lit(0L), (a, x) => a + x).as("s"))
      .orderBy(col("doc_id")).collect()
    got.map(_.toString) shouldBe want.map(_.toString)

    // double-element arrays: the IVF centroid table (cell, cv, cn)
    val vroot = Files.createTempDirectory("graft_cat_vec").toString
    val e = (0L until 24L).map { i =>
      (i, Seq.tabulate(64)(d => if (d % 4 == (i % 4).toInt) 10.0f else 1.0f))
    }.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, x) => a + x)))
    VectorIndex.trainIvf(spark, vroot, e)
    val vcat = "graftvec"
    spark.conf.set(s"spark.sql.catalog.$vcat", classOf[StoreCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$vcat.path", s"$vroot/ivf")
    spark.sql(s"SHOW TABLES IN $vcat").collect()
      .map(_.getString(1)).toSet shouldBe Set("ivf_assign", "ivf_centroids")
    val cents = spark.sql(
      s"SELECT cell, size(cv) AS dim, cn FROM $vcat.ivf_centroids").collect()
    cents.length should be > 0
    all(cents.map(_.getInt(1))) shouldBe 64
    all(cents.map(_.getDouble(2))) should be > 0.0
  }
}
