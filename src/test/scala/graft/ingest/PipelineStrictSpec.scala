package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.schema.Schemas.MetadataEntry

/** Strict-vs-permissive pipeline semantics beyond decode validity: the
  * reference halts the stream when an AWS-account annotation value cannot
  * be normalized (main.go:254-262); permissive mode skips the annotation
  * and keeps the asset.
  */
class PipelineStrictSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private def envelope(awsValue: String) = {
    val meta = Seq(MetadataEntry("version", "0.1.2"),
      MetadataEntry("type", "Hostname"),
      MetadataEntry("identifier", "web1.example.org"))
    val payload =
      s"""{"Id":"a1","Team":{"Id":"alpha","Name":"alpha","Description":"","Tag":""},
         |"Alias":"","Rolfp":"","Scannable":true,"AssetType":"Hostname",
         |"Identifier":"web1.example.org",
         |"Annotations":[{"Key":"discovery/aws/account","Value":"$awsValue"}]}"""
        .stripMargin.replace("\n", "")
    Seq((0L, "alpha/a1", payload, meta))
      .toDF("offset", "key", "value", "metadata")
  }

  test("strict mode halts on an un-normalizable AWS account id") {
    val e = intercept[IllegalArgumentException](
      Pipeline.replay(spark, envelope("not-an-account")))
    e.getMessage should include("invalid AWS account id")
  }

  test("permissive mode skips the bad annotation but keeps the asset") {
    val st = Pipeline.replay(spark, envelope("not-an-account"),
      Pipeline.Config(strict = false))
    st.assets.collect().map(_.getAs[String]("id")).toSet shouldBe
      Set("Hostname/web1.example.org") // no AWSAccount vertex
    st.parentOf.count() shouldBe 0
  }

  test("valid short account id still parents the asset in strict mode") {
    val st = Pipeline.replay(spark, envelope("000000000000"))
    st.assets.collect().map(_.getAs[String]("id")).toSet shouldBe Set(
      "Hostname/web1.example.org", "AWSAccount/arn:aws:iam::000000000000:root")
    st.parentOf.count() shouldBe 1
  }

  // --- halt-point parity (reference: vulcan_test.go:155-165 — the stream
  // stops at the FIRST bad message but keeps all prior good output) -------

  private def meta(ident: String) = Seq(MetadataEntry("version", "0.1.2"),
    MetadataEntry("type", "Hostname"),
    MetadataEntry("identifier", s"$ident.example.org"))

  private def payload(ident: String, teamId: String = "\"alpha\"") =
    s"""{"Id":"$ident","Team":{"Id":$teamId,"Name":"alpha","Description":"","Tag":""},
       |"Alias":"","Rolfp":"","Scannable":true,"AssetType":"Hostname",
       |"Identifier":"$ident.example.org","Annotations":[]}"""
      .stripMargin.replace("\n", "")

  private def midBadBatch = Seq(
    (0L, "alpha/w0", payload("w0"), meta("w0")),
    (1L, "alpha/w1", payload("w1"), meta("w1")),
    (2L, "alpha/w2", "{broken json", meta("w2")),
    (3L, "alpha/w3", payload("w3"), meta("w3"))
  ).toDF("offset", "key", "value", "metadata")

  test("strict halt applies the valid prefix before the first bad message") {
    val e = intercept[Pipeline.StrictHaltException](Pipeline.replay(spark, midBadBatch))
    e.haltOffset shouldBe 2L
    val st = e.prefix
    // w0/w1 (before the bad offset) applied; w3 (after it) NOT applied
    st.assets.collect().map(_.getAs[String]("identifier")).toSet shouldBe
      Set("w0.example.org", "w1.example.org")
  }

  test("the streaming sink persists the valid prefix before halting") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString
    intercept[Pipeline.StrictHaltException](
      graft.streaming.StreamIngest.applyBatch(
        midBadBatch, 0L, stateDir, Pipeline.Config(), 1704067200L))
    // prior-good state survives the halt, like the reference's PUTs do
    val st = graft.streaming.StateStore.read(spark, stateDir, 0L)
    st.assets.collect().map(_.getAs[String]("identifier")).toSet shouldBe
      Set("w0.example.org", "w1.example.org")
  }

  test("a mid-stream halt persists the prefix through the BUCKET-PRUNED path") {
    // batch 0 commits normally; batch 1 halts mid-batch against EXISTING
    // state — the prefix write goes through the partial read (only the
    // batch's candidate buckets loaded) and must pass the write-side
    // touched⊆loaded assertion before the halt propagates
    val stateDir = java.nio.file.Files.createTempDirectory("graft_state").toString
    val good = Seq((0L, "alpha/w0", payload("w0"), meta("w0")))
      .toDF("offset", "key", "value", "metadata")
    graft.streaming.StreamIngest.applyBatch(good, 0L, stateDir, Pipeline.Config(), 1704067200L)
    val batch1 = Seq(
      (10L, "alpha/w1", payload("w1"), meta("w1")),
      (11L, "alpha/w2", "{broken json", meta("w2")),
      (12L, "alpha/w3", payload("w3"), meta("w3"))
    ).toDF("offset", "key", "value", "metadata")
    intercept[Pipeline.StrictHaltException](
      graft.streaming.StreamIngest.applyBatch(
        batch1, 1L, stateDir, Pipeline.Config(), 1704067300L))
    // v1 = batch-0 state (inherited, untouched buckets) + batch-1 prefix
    val st = graft.streaming.StateStore.read(spark, stateDir, 1L)
    st.assets.collect().map(_.getAs[String]("identifier")).toSet shouldBe
      Set("w0.example.org", "w1.example.org")
  }

  test("a payload without Team.Id creates no null-keyed team or owns edge") {
    val env = Seq((0L, "alpha/w0", payload("w0", teamId = "null"), meta("w0")))
      .toDF("offset", "key", "value", "metadata")
    val st = Pipeline.replay(spark, env)
    st.assets.collect().map(_.getAs[String]("identifier")).toSeq shouldBe
      Seq("w0.example.org") // asset still lands
    st.teams.count() shouldBe 0 // no null-keyed team vertex
    st.owns.count() shouldBe 0 // no null-team edge
  }
}
