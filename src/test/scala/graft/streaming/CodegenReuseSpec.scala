package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.ingest.Pipeline
import graft.schema.Schemas.MetadataEntry
import java.nio.file.Files

/** A warm fold trigger compiles no new classes: the generated-class cache
  * holds the fold's working set (GraftSession sizes it), and the fold's
  * plans carry no per-trigger literal into generated code — the touched
  * buckets, which differ from trigger to trigger, ride as a referenced
  * array instead of an inlined `isin` list. At Spark's default cache size
  * every trigger recompiled about 200 classes.
  *
  * The compile counter is JVM-global; the suites run one after another in
  * one forked JVM, so the delta over a trigger is this trigger's alone.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val Assets = 48
  private def env(offset: Long, i: Int, tag: String): Env = {
    val (id, team, account) = (s"h$i", s"t${i % 6}", f"${i % 4}%012d")
    val value = s"""{"Id": "$id", "Team": {"Id": "$team", "Name": "$team name", """ +
      s""""Description": "$team desc", "Tag": "$tag"}, "Alias": "$id alias", """ +
      s""""Rolfp": "R:0/O:1/L:0/F:1/P:0+S:1", "Scannable": true, """ +
      s""""AssetType": "Hostname", "Identifier": "$id.example.org", """ +
      s""""Annotations": [{"Key": "discovery/aws/account", "Value": "$account"}]}"""
    Env(offset, s"$team/$id", value, Seq(MetadataEntry("version", "0.1.2"),
      MetadataEntry("type", "Hostname"), MetadataEntry("identifier", s"$id.example.org")))
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a warm fold trigger compiles nothing, whichever buckets it touches") {
    val stateDir = Files.createTempDirectory("graft_codegen").toString
    val cfg = Pipeline.Config()
    val seed = (0 until Assets).map(i => env(i.toLong, i, "seed"))
    StreamIngest.applyBatch(seed.toDF(), 0L, stateDir, cfg, 1704067200L)
    // three refresh batches of the same shape on different assets, so each
    // touches a different bucket set of every table (assets, teams, owns,
    // and parent_of through the AWS-account parents)
    val perTrigger = (1 to 3).map { b =>
      val batch = (0 until 12).map(j => env(Assets * b + j.toLong, (b * 13 + j * 5) % Assets, s"r$b"))
      val before = compiles()
      StreamIngest.applyBatch(batch.toDF(), b.toLong, stateDir, cfg, 1704067200L)
      compiles() - before
    }
    info(s"classes compiled per refresh trigger: ${perTrigger.mkString(", ")}")
    perTrigger.last shouldBe 0L
    // the triggers really folded: the hosts plus their four AWS accounts
    StateStore.read(spark, stateDir, 3L).assets.count() shouldBe Assets + 4L
  }
}
