package graft.ingest

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.schema.Schemas
import graft.schema.Schemas.MetadataEntry
import graft.graph.GraphOps
import graft.streaming.{StateStore, StreamIngest}

/** Differential test of the set-at-a-time pipeline against a trivially
  * correct SEQUENTIAL interpreter of the reference semantics (one event at
  * a time over mutable maps — the shape of main.go's handler). Random
  * event streams over a small key pool maximize interactions: re-owned
  * assets, tombstone→re-create, multi-team ownership, AWS parent edges,
  * repeated tombstones. Seeds are fixed, so failures reproduce.
  */
class DifferentialReplaySpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val Base = 1704067200L
  private def ts(off: Long) = new Timestamp((Base + off) * 1000L)

  private sealed trait Ev { def tpe: String; def ident: String; def team: String }
  private case class Refresh(tpe: String, ident: String, team: String,
      aws: Option[String]) extends Ev
  private case class Tomb(tpe: String, ident: String, team: String) extends Ev

  private def genEvents(seed: Long, n: Int, tombP: Double = 0.10): Seq[Ev] = {
    val rnd = new scala.util.Random(seed)
    val types = Seq("Hostname", "IP")
    val idents = Seq("a1", "a2", "a3")
    val teams = Seq("t1", "t2", "t3")
    val aws = Seq(None, None, None, Some("000000000000"), Some("111111111111"))
    (0 until n).map { _ =>
      val (t, i, tm) = (types(rnd.nextInt(2)), idents(rnd.nextInt(3)), teams(rnd.nextInt(3)))
      if (rnd.nextDouble() < tombP) Tomb(t, i, tm)
      else Refresh(t, i, tm, aws(rnd.nextInt(aws.size)))
    }
  }

  private def envelopes(evs: Seq[Ev]) = {
    val rows = evs.zipWithIndex.map { case (ev, off) =>
      val identifier = s"${ev.ident}.${ev.tpe.toLowerCase}"
      val meta = Seq(MetadataEntry("version", "0.1.2"),
        MetadataEntry("type", ev.tpe), MetadataEntry("identifier", identifier))
      val value = ev match {
        case Refresh(tpe, ident, team, aws) =>
          val ann = aws.map(a =>
            s"""[{"Key":"discovery/aws/account","Value":"$a"}]""").getOrElse("[]")
          s"""{"Id":"$ident","Team":{"Id":"$team","Name":"$team name","Description":"","Tag":""},
             |"Alias":"","Rolfp":"","Scannable":true,"AssetType":"$tpe",
             |"Identifier":"$identifier","Annotations":$ann}"""
            .stripMargin.replace("\n", "")
        case _: Tomb => null
      }
      (off.toLong, s"${ev.team}/${ev.ident}", value, meta)
    }
    rows.toDF("offset", "key", "value", "metadata")
  }

  /** One event at a time, reference-style. */
  private def sequentialOracle(evs: Seq[Ev]) = {
    val assets = scala.collection.mutable.Map[(String, String), (Timestamp, Timestamp, Timestamp)]()
    val teams = scala.collection.mutable.Map[String, String]()
    val owns = scala.collection.mutable.Map[(String, String), (Timestamp, Option[Timestamp])]()
    val parents = scala.collection.mutable.Map[(String, String), (Timestamp, Timestamp, Timestamp)]()
    val U = Schemas.Unexpired

    evs.zipWithIndex.foreach { case (ev, off) =>
      val now = ts(off)
      val identifier = s"${ev.ident}.${ev.tpe.toLowerCase}"
      val aId = s"${ev.tpe}/$identifier"
      ev match {
        case Refresh(tpe, _, team, aws) =>
          assets((tpe, identifier)) = assets.get((tpe, identifier))
            .map { case (f, _, _) => (f, now, U) }.getOrElse((now, now, U))
          teams(team) = s"$team name"
          owns((team, aId)) = owns.get((team, aId))
            .map { case (s, _) => (s, None) }.getOrElse((now, None))
          aws.foreach { acct =>
            val arn = s"arn:aws:iam::$acct:root"
            assets(("AWSAccount", arn)) = assets.get(("AWSAccount", arn))
              .map { case (f, _, _) => (f, now, U) }.getOrElse((now, now, U))
            val pid = s"AWSAccount/$arn"
            parents((pid, aId)) = parents.get((pid, aId))
              .map { case (f, _, _) => (f, now, U) }.getOrElse((now, now, U))
          }
        case Tomb(tpe, _, team) =>
          // nonexistent asset or team: silent no-op (main.go:276-292)
          if (assets.contains((tpe, identifier)) && teams.contains(team)) {
            owns.get((team, aId)).foreach { case (s, _) =>
              owns((team, aId)) = (s, Some(now))
            }
            val otherActive = owns.exists { case ((t, a), (_, end)) =>
              a == aId && t != team && end.isEmpty
            }
            if (!otherActive) {
              val (f, _, _) = assets((tpe, identifier))
              assets((tpe, identifier)) = (f, now, now)
              parents.foreach { case ((p, c), (pf, _, pe)) =>
                if ((p == aId || c == aId) && pe.after(now))
                  parents((p, c)) = (pf, now, now)
              }
            }
          }
      }
    }
    (assets.toMap, teams.toMap, owns.toMap, parents.toMap)
  }

  private def run(seed: Long, n: Int, tombP: Double = 0.10): Unit = {
    val evs = genEvents(seed, n, tombP)
    check(seed, Pipeline.replay(spark, envelopes(evs)), evs)
  }

  /** The same events through [[StreamIngest.applyBatch]] in `batches`
    * offset-contiguous micro-batches over a 4-bucket store: the
    * bucket-pruned read and the incremental write must fold to the
    * interpreter's state too. Offsets are global, so each event keeps the
    * processing time replay gives it.
    */
  private def runStreamed(seed: Long, n: Int, tombP: Double, batches: Int): Unit = {
    val evs = genEvents(seed, n, tombP)
    val env = envelopes(evs)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_diff_stream_$seed").toString
    val cuts = (0 to batches).map(b => b.toLong * n / batches)
    for (b <- 0 until batches)
      StreamIngest.applyBatch(env.filter($"offset" >= cuts(b) && $"offset" < cuts(b + 1)),
        b.toLong, dir, Pipeline.Config(), Base, StateStore.Config(buckets = 4))
    check(seed, StateStore.readLatest(spark, dir, Long.MaxValue).get._2, evs)
  }

  private def check(seed: Long, st: GraphOps.State, evs: Seq[Ev]): Unit = {
    val (ea, et, eo, ep) = sequentialOracle(evs)

    val ga = st.assets.collect().map(r => (r.getAs[String]("type"), r.getAs[String]("identifier")) ->
      ((r.getAs[Timestamp]("first_seen"), r.getAs[Timestamp]("last_seen"),
        r.getAs[Timestamp]("expiration")))).toMap
    val gt = st.teams.collect().map(r =>
      r.getAs[String]("identifier") -> r.getAs[String]("name")).toMap
    val go = st.owns.collect().map(r => (r.getAs[String]("team_id"), r.getAs[String]("asset_id")) ->
      ((r.getAs[Timestamp]("start_time"), Option(r.getAs[Timestamp]("end_time"))))).toMap
    val gp = st.parentOf.collect().map(r => (r.getAs[String]("parent_id"), r.getAs[String]("child_id")) ->
      ((r.getAs[Timestamp]("first_seen"), r.getAs[Timestamp]("last_seen"),
        r.getAs[Timestamp]("expiration")))).toMap

    withClue(s"seed=$seed assets: ") { ga shouldBe ea }
    withClue(s"seed=$seed teams: ") { gt shouldBe et }
    withClue(s"seed=$seed owns: ") { go shouldBe eo }
    withClue(s"seed=$seed parent_of: ") { gp shouldBe ep }
  }

  test("random streams: set-at-a-time replay == sequential reference interpreter (seed 11)") {
    run(11L, 50)
  }
  test("random streams: set-at-a-time replay == sequential reference interpreter (seed 42)") {
    run(42L, 50)
  }
  test("random streams: set-at-a-time replay == sequential reference interpreter (seed 77)") {
    run(77L, 50)
  }

  // r8 regression net for the sided-epoch fast path: segment epochs are
  // refresh-only (odd) or tombstone-only (even) BY CONSTRUCTION, and the
  // fold now skips the other side's operator chain per epoch — a parity
  // bug in withTombstoneRunEpochs (or a mislabeled side) would drop events and
  // diverge from the sequential interpreter here. Tombstone-heavy
  // streams force DEEP per-key refresh/tombstone alternation (many
  // epochs per batch), the case the 10%-tombstone seeds rarely reach.
  test("tombstone-heavy streams (40%): deep epoch alternation matches the interpreter (seed 5)") {
    run(5L, 40, tombP = 0.40)
  }
  test("tombstone-heavy streams (40%): deep epoch alternation matches the interpreter (seed 29)") {
    run(29L, 30, tombP = 0.40)
  }

  // the streaming leg: the same seeds through the bucket-pruned read and
  // the loaded-bucket incremental write, in micro-batches
  test("micro-batched through applyBatch: the store folds to the interpreter's state (seed 11)") {
    runStreamed(11L, 50, tombP = 0.10, batches = 4)
  }
  test("micro-batched through applyBatch: the store folds to the interpreter's state (seed 5, 40%)") {
    runStreamed(5L, 40, tombP = 0.40, batches = 3)
  }
}
