package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

/** Streaming maintenance of the persisted derived-text frames
  * ([[CorpusIndex.maintainStream]]): one document CDC feed (upserts +
  * tombstones, per-doc `seq` ordering) keeps both store frames equal to
  * a from-raw derivation of the NET corpus after every micro-batch,
  * last-writer-wins inside a batch, and an at-least-once replayed batch
  * recommits its version without corrupting or double-applying.
  */
case class DocEvent(doc_id: Long, source: String, text: String,
    op: String, seq: Long)

class StreamCorpusIndexSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def docsOf(rows: (Long, String, String)*): DataFrame =
    rows.toDF("doc_id", "source", "text")

  test("CDC feed maintains both frames: upsert, replace, delete, last-writer inside a batch") {
    val root = Files.createTempDirectory("graft_streamidx").toString
    val ckpt = Files.createTempDirectory("graft_streamidx_ckpt").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[DocEvent]
    val q = CorpusIndex.maintainStream(src.toDF(), root, ckpt)
    try {
      // batch 0: bootstrap from empty (full write of the upserts)
      src.addData(
        DocEvent(1L, "web", "the quick brown fox", "upsert", 10L),
        DocEvent(2L, "web", "a b c d e f g", "upsert", 11L),
        DocEvent(3L, "books", "to be or not to be", "upsert", 12L))
      q.processAllAvailable()
      sortedRows(CorpusIndex.storedTokens(spark, root)) shouldBe
        sortedRows(CorpusIndex.tokenRows(docsOf(
          (1L, "web", "the quick brown fox"),
          (2L, "web", "a b c d e f g"),
          (3L, "books", "to be or not to be"))))

      // batch 1: replace doc 1 (SHORTER text — stale rows must vanish),
      // delete doc 3, and a doc whose within-batch history ends deleted
      // (upsert seq 20, delete seq 21 — last writer wins)
      src.addData(
        DocEvent(1L, "web", "short now", "upsert", 20L),
        DocEvent(3L, "books", "", "delete", 20L),
        DocEvent(4L, "web", "flickering document", "upsert", 20L),
        DocEvent(4L, "web", "", "delete", 21L))
      q.processAllAvailable()
      val net = docsOf(
        (1L, "web", "short now"),
        (2L, "web", "a b c d e f g"))
      sortedRows(CorpusIndex.storedTokens(spark, root)) shouldBe
        sortedRows(CorpusIndex.tokenRows(net))
      sortedRows(CorpusIndex.storedShingles(spark, root)) shouldBe
        sortedRows(CorpusIndex.shingleRows(net))
    } finally q.stop()
  }

  test("within-batch delete-then-reinsert: the doc survives with the later upsert") {
    val root = Files.createTempDirectory("graft_streamidx").toString
    CorpusIndex.foldDocBatch(spark, root, Seq(
      DocEvent(1L, "web", "first life", "upsert", 1L)).toDF(), 0L)
    CorpusIndex.foldDocBatch(spark, root, Seq(
      DocEvent(1L, "web", "", "delete", 10L),
      DocEvent(1L, "web", "second life", "upsert", 11L)).toDF(), 1L)
    sortedRows(CorpusIndex.storedTokens(spark, root)) shouldBe
      sortedRows(CorpusIndex.tokenRows(docsOf((1L, "web", "second life"))))
  }

  test("an at-least-once replayed batch recommits its version idempotently") {
    val root = Files.createTempDirectory("graft_streamidx").toString
    CorpusIndex.foldDocBatch(spark, root, Seq(
      DocEvent(1L, "web", "one two three", "upsert", 1L),
      DocEvent(2L, "web", "four five six", "upsert", 2L)).toDF(), 0L)
    val b1 = Seq(
      DocEvent(1L, "web", "", "delete", 10L),
      DocEvent(3L, "web", "seven eight", "upsert", 11L)).toDF()
    CorpusIndex.foldDocBatch(spark, root, b1, 1L)
    val after = sortedRows(CorpusIndex.storedTokens(spark, root))
    // restart replays batch 1 (checkpoint WAL at-least-once)
    noException should be thrownBy CorpusIndex.foldDocBatch(spark, root, b1, 1L)
    CorpusIndex.latestTokens(spark, root) shouldBe 2L
    sortedRows(CorpusIndex.storedTokens(spark, root)) shouldBe after
    after shouldBe sortedRows(CorpusIndex.tokenRows(docsOf(
      (2L, "web", "four five six"),
      (3L, "web", "seven eight"))))
  }

  test("the generic store CDC stream serves the frame's maintenance feed") {
    // self-describing manifests make graft-store-cdc work over ANY
    // TableStore root: each maintenance commit (insert + replace at v1,
    // retraction at v2) must stream out exactly the rows that two full
    // reads and exceptAll give (and TableStore.diff returns),
    // change-and-version tagged — the downstream-consumer path (e.g. a
    // vector index reacting to corpus erasures) with no graph coupling.
    val root = Files.createTempDirectory("graft_streamidx").toString
    val ckpt = Files.createTempDirectory("graft_streamidx_cdc").toString
    CorpusIndex.buildTokens(spark, root,
      docsOf((1L, "web", "one two"), (2L, "web", "three four")))
    CorpusIndex.appendTokenDocs(spark, root,
      docsOf((2L, "web", "three rewritten"), (3L, "web", "five")))
    CorpusIndex.appendTokenDocs(spark, root, docsOf(),
      deleteDocIds = Some(Seq(1L).toDF("doc_id")))

    val path = CorpusIndex.tokensPath(root)
    val q = spark.readStream.format("graft-store-cdc")
      .option("path", path).option("table", "tokens")
      .option("startingVersion", 0L).load() // offset semantics: v0 already consumed
      .writeStream.format("memory").queryName("tok_cdc")
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("tok_cdc")
      .select(col("version"), col("change"), col("doc_id"), col("term"), col("pos"))
      .collect().map(_.toString).toSeq.sorted
    import graft.streaming.{ExceptAllDiff, TableStore}
    def tagged(v: Long, diff: DataFrame): Seq[String] =
      diff.select(lit(v).as("version"), col("change"), col("doc_id"),
        col("term"), col("pos")).collect().map(_.toString).toSeq
    val want = Seq(1L, 2L).flatMap { v =>
      tagged(v, ExceptAllDiff(TableStore.read(spark, path, v - 1, "tokens"),
        TableStore.read(spark, path, v, "tokens")))
    }.sorted
    want should not be empty
    got shouldBe want
    Seq(1L, 2L).flatMap(v =>
      tagged(v, TableStore.diff(spark, path, "tokens", v - 1, v))).sorted shouldBe want
    // the retraction version emits the erased doc's rows as `removed`
    spark.table("tok_cdc")
      .filter(col("version") === 2L && col("doc_id") === 1L)
      .select(col("change")).collect().map(_.getString(0)).toSet shouldBe Set("removed")
  }

  test("two-hop composition: doc feed → maintained store → live CDC consumer") {
    // the full deployment shape, both hops RUNNING at once: a document
    // CDC feed maintains the token store (hop 1), and a second live
    // streaming query tails that store's change feed (hop 2). The
    // accumulated change feed folded by (added − removed) must equal the
    // final stored frame — deletions included.
    val root = Files.createTempDirectory("graft_streamidx").toString
    val ckpt1 = Files.createTempDirectory("graft_streamidx_c1").toString
    val ckpt2 = Files.createTempDirectory("graft_streamidx_c2").toString
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[DocEvent]
    val q1 = CorpusIndex.maintainStream(src.toDF(), root, ckpt1)
    src.addData(DocEvent(1L, "web", "one two three", "upsert", 1L),
      DocEvent(2L, "web", "four five", "upsert", 2L))
    q1.processAllAvailable() // v1 committed: the CDC source can now mount
    val q2 = spark.readStream.format("graft-store-cdc")
      .option("path", CorpusIndex.tokensPath(root))
      .option("table", "tokens").option("startingVersion", -1L).load()
      .writeStream.format("memory").queryName("tok_chain")
      .option("checkpointLocation", ckpt2).start()
    try {
      q2.processAllAvailable()
      src.addData(DocEvent(1L, "web", "", "delete", 10L),
        DocEvent(3L, "web", "six", "upsert", 11L))
      q1.processAllAvailable()
      q2.processAllAvailable()
    } finally { q1.stop(); q2.stop() }

    // fold the accumulated change feed: net row multiset == stored frame
    val folded = spark.table("tok_chain")
      .groupBy(col("doc_id"), col("source"), col("term"), col("pos"))
      .agg(sum(when(col("change") === "added", 1).otherwise(-1)).as("n"))
      .filter(col("n") =!= 0)
    folded.filter(col("n") =!= 1).count() shouldBe 0L // net is a set here
    folded.select(col("doc_id"), col("source"), col("term"), col("pos"))
      .collect().map(_.toString).toSeq.sorted shouldBe
      sortedRows(CorpusIndex.storedTokens(spark, root))
  }

  test("a tombstone in the bootstrap batch is a loud no-op, not a crash") {
    val root = Files.createTempDirectory("graft_streamidx").toString
    CorpusIndex.foldDocBatch(spark, root, Seq(
      DocEvent(1L, "web", "kept", "upsert", 1L),
      DocEvent(9L, "web", "", "delete", 2L)).toDF(), 0L)
    sortedRows(CorpusIndex.storedTokens(spark, root)) shouldBe
      sortedRows(CorpusIndex.tokenRows(docsOf((1L, "web", "kept"))))
  }
}

/** Same-session cache revalidation ([[graft.SessionCache.getOrBuildIf]]):
  * the shared token/shingle frames are session-cached per corpus dir, and
  * a maintenance commit on their backing store — in particular a
  * RETRACTION — must invalidate the cached entry on its next access, not
  * serve the erased document for the rest of the session.
  */
class FrameCacheRevalidationSpec extends org.scalatest.funsuite.AnyFunSuite
  with graft.SparkSpec with org.scalatest.matchers.should.Matchers {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("a same-session retraction invalidates the cached token frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_revalidate").toString
    Seq(
      (1L, "alpha beta gamma", "en", "web", 16L),
      (2L, "delta epsilon", "en", "web", 13L),
      (3L, "to be erased entirely", "en", "web", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")

    // first access: builds AND persists v0 of the store
    val before = TextAnalysis.corpusTokens(spark, dir)
    before.filter(col("doc_id") === 3L).count() should be > 0L
    TextAnalysis.corpusDocTerms(spark, dir)
      .filter(col("doc_id") === 3L).count() should be > 0L

    // the maintenance commit: erase doc 3 from the SAME session's store
    val root = CorpusIndex.storeRootFor(dir)
    CorpusIndex.appendTokenDocs(spark, root,
      graft.Tables.documents(spark, dir).filter(lit(false))
        .select(col("doc_id"), col("source"), col("text")),
      deleteDocIds = Some(Seq(3L).toDF("doc_id")))

    // next access must serve the post-erasure head, not the cached entry
    val after = TextAnalysis.corpusTokens(spark, dir)
    after.filter(col("doc_id") === 3L).count() shouldBe 0L
    after.filter(col("doc_id") === 1L).count() should be > 0L
    // the derived doc-term frame revalidates through the same version
    TextAnalysis.corpusDocTerms(spark, dir)
      .filter(col("doc_id") === 3L).count() shouldBe 0L
  }
}
