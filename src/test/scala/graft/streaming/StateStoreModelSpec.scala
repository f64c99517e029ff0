package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import graft.graph.GraphOps.State
import graft.ingest.Pipeline

/** Model-based property test for the versioned store: random sequences of
  * incremental writes (adds, updates, drops) and prunes are replayed
  * against a driver-side map model, and after every step EVERY surviving
  * committed version must read back exactly its model snapshot, and every
  * adjacent version diff must equal the model's row diff. This is the
  * randomized complement of StateStoreSpec's targeted cases — shadow
  * paging, pointer chasing, loaded-bucket rewrites, and per-bucket
  * pruning all have to hold simultaneously for the whole CHAIN, not just
  * the scripted shapes.
  */
class StateStoreModelSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")

  /** Model row: (id, last_seen-bump counter). */
  private type Model = Map[String, Int]

  private def toState(m: Model): State = {
    val assets = m.toSeq.sortBy(_._1).map { case (id, bump) =>
      (id, "T", id, t0, new Timestamp(t0.getTime + bump * 1000L),
        graft.schema.Schemas.Unexpired)
    }.toDF("id", "type", "identifier", "first_seen", "last_seen", "expiration")
    Pipeline.emptyState(spark).copy(assets = assets)
  }

  private def readRows(st: State): Map[String, Long] =
    st.assets.collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Timestamp]("last_seen").getTime).toMap

  private def modelRows(m: Model): Map[String, Long] =
    m.map { case (id, bump) => id -> (t0.getTime + bump * 1000L) }

  test("property: the CDC stream replays a random chain version-exactly (2 seeds)") {
    // the randomized complement of StoreCdcSpec's scripted cases: a
    // genesis stream over a random 6-version chain must emit, per
    // version, exactly the model's row diff — and nothing else
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed * 7919L)
      val base = Files.createTempDirectory(s"graft_cdc_model_$seed").toString
      val root = base + "/store"
      val cfg = StateStore.Config(buckets = 8)
      val ids = (0 until 30).map(i => s"a$i")
      var model: Model = ids.take(15).map(_ -> 0).toMap
      var versions = Vector(0L -> model)
      StateStore.write(spark, root, 0L, toState(model), None, cfg)
      for (step <- 1 to 5) {
        val bumped = ids.filter(_ => rnd.nextDouble() < 0.2).filter(model.contains)
        val added = ids.filterNot(model.contains).filter(_ => rnd.nextDouble() < 0.15)
        val dropped = model.keys.toSeq.filter(_ => rnd.nextDouble() < 0.08)
        val next = (model -- dropped) ++
          bumped.map(id => id -> (model(id) + 1)) ++ added.map(_ -> 0)
        val changedIds = (bumped ++ added ++ dropped).distinct
        val (st, loaded) =
          if (changedIds.isEmpty) (toState(next), None)
          else AssetBuckets(toState(next), changedIds, cfg)
        StateStore.write(spark, root, step.toLong, st, loaded, cfg)
        model = next
        versions :+= (step.toLong -> model)
      }

      val sink = s"cdc_model_$seed"
      val q = spark.readStream.format("graft-store-cdc")
        .option("path", root).option("table", "assets").option("startingVersion", -1)
        .load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", base + "/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()

      val byVersion = spark.table(sink).collect()
        .map(r => (r.getAs[Long]("version"),
          (r.getAs[String]("id"), r.getAs[Timestamp]("last_seen").getTime,
            r.getAs[String]("change"))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      for (Seq((vA, mA), (vB, mB)) <- (Vector(-1L -> Map.empty[String, Int]) ++ versions).sliding(2)) {
        val a = modelRows(mA); val b = modelRows(mB)
        val expect =
          b.toSet.diff(a.toSet).map { case (id, ts) => (id, ts, "added") } ++
            a.toSet.diff(b.toSet).map { case (id, ts) => (id, ts, "removed") }
        withClue(s"seed=$seed stream v$vA->v$vB: ") {
          byVersion.getOrElse(vB, Set.empty) shouldBe expect
        }
      }
    }
  }

  test("property: random write/prune chains read back and diff exactly (3 seeds)") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 991L)
      val root = Files.createTempDirectory(s"graft_model_$seed").toString
      val cfg = StateStore.Config(buckets = 8)
      val ids = (0 until 40).map(i => s"a$i")

      var model: Model = ids.take(20).map(_ -> 0).toMap
      var versions = Vector.empty[(Long, Model)]
      StateStore.write(spark, root, 0L, toState(model), None, cfg)
      versions :+= (0L -> model)
      var keepFrom = 0L

      for (step <- 1 to 6) {
        // random incremental change: bump some, add some, drop some
        val bumped = ids.filter(_ => rnd.nextDouble() < 0.15)
          .filter(model.contains)
        val added = ids.filterNot(model.contains).filter(_ => rnd.nextDouble() < 0.1)
        val dropped = model.keys.toSeq.filter(_ => rnd.nextDouble() < 0.05)
        val next = (model -- dropped) ++
          bumped.map(id => id -> (model(id) + 1)) ++ added.map(_ -> 0)
        val changedIds = (bumped ++ added ++ dropped).distinct
        val (st, loaded) =
          if (changedIds.isEmpty) (toState(next), None)
          else AssetBuckets(toState(next), changedIds, cfg)
        StateStore.write(spark, root, step.toLong, st, loaded, cfg)
        model = next
        versions :+= (step.toLong -> model)

        // occasionally prune history
        if (rnd.nextDouble() < 0.3 && step >= 2) {
          keepFrom = step.toLong - 1
          StateStore.prune(spark, root, keepFrom)
        }

        val surviving = versions.filter(_._1 >= keepFrom)
        withClue(s"seed=$seed step=$step committed listing: ") {
          StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe
            surviving.map(_._1)
        }
        // every surviving version reads back its exact model snapshot
        for ((v, m) <- surviving) withClue(s"seed=$seed step=$step v$v: ") {
          readRows(StateStore.read(spark, root, v)) shouldBe modelRows(m)
        }
        // adjacent diffs equal the model's row diff (added/removed labels)
        for (Seq((vA, mA), (vB, mB)) <- surviving.sliding(2) if surviving.size >= 2) {
          val diff = StateStore.diffVersions(spark, root, vA, vB)
            .find(_.table == "assets").get.changed.collect()
            .map(r => (r.getAs[String]("id"), r.getAs[Timestamp]("last_seen").getTime,
              r.getAs[String]("change"))).toSet
          val a = modelRows(mA); val b = modelRows(mB)
          val expect =
            b.toSet.diff(a.toSet).map { case (id, ts) => (id, ts, "added") } ++
              a.toSet.diff(b.toSet).map { case (id, ts) => (id, ts, "removed") }
          withClue(s"seed=$seed step=$step diff v$vA->v$vB: ") { diff shouldBe expect }
        }
      }
    }
  }

  test("property: racing commits leave exactly one winner per version (3 seeds)") {
    // the randomized complement of StateStoreSpec's scripted CAS cases:
    // at every version a shuffled set of write attempts races — the true
    // fold, a conflicting fold touching a DIFFERENT bucket, and random
    // redeliveries of either — and whatever attempt lands first is the
    // version's content forever: identical-content attempts succeed
    // idempotently, different-content attempts get the retryable loss,
    // the committed chain never forks, and a stale-head commit CAS-fails
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 104729L)
      val root = Files.createTempDirectory(s"graft_race_model_$seed").toString
      val cfg = StateStore.Config(buckets = 8)
      var model: Model = (0 until 12).map(i => s"a$i" -> 0).toMap
      StateStore.write(spark, root, 0L, toState(model), None, cfg)
      for (v <- 1 to 4) {
        val ids = model.keys.toSeq.sorted
        val a = ids(rnd.nextInt(ids.size))
        // the conflicting fold must touch a DIFFERENT bucket: equal
        // touched-pointer sets are indistinguishable by design (the
        // determinism contract makes equal pointers mean equal data)
        val b = ids.find(x => x != a &&
          StateStore.bucketIdFor(x, 8) != StateStore.bucketIdFor(a, 8)).get
        def bump(id: String): Model = model.updated(id, model(id) + v)
        val canon = (bump(a), a)
        val confl = (bump(b), b)
        val extras = Seq.fill(rnd.nextInt(2) + 1)(
          if (rnd.nextBoolean()) canon else confl)
        val attempts = rnd.shuffle(canon +: confl +: extras)
        var winner: Option[Model] = None
        attempts.foreach { case (m, id) =>
          try {
            val (st, loaded) = AssetBuckets(toState(m), Seq(id), cfg)
            StateStore.write(spark, root, v, st, loaded, cfg)
            winner match {
              case None => winner = Some(m) // first attempt commits
              case Some(w) => m shouldBe w // only redelivery may succeed
            }
          } catch {
            case _: StateStore.ConcurrentWriteException =>
              winner should not be None // a loss implies someone won
              winner.get should not be m // and the loser differed
          }
        }
        model = winner.get
        readRows(StateStore.read(spark, root, v)) shouldBe modelRows(model)
        // a commit computed against a superseded head must CAS-fail
        intercept[StateStore.ConcurrentWriteException] {
          StateStore.commit(spark, root, v + 1, cfg, Map.empty,
            expectedPrev = if (v >= 2) Some(v - 2L) else None)
        }
      }
      StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe (0L to 4L)
      readRows(StateStore.read(spark, root, 4L)) shouldBe modelRows(model)
    }
  }

  test("property: random chains with additive schema evolution read back exactly (3 seeds)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    // model extension: besides the last_seen bump counter, each version
    // may ADD a fresh nullable string column valued only on that
    // version's changed keys — every surviving version must read back its
    // own column set, with nulls exactly where the writing version's
    // frame had them (changed buckets) or where inherited files predate
    // the column (old buckets)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 6007L)
      val root = Files.createTempDirectory(s"graft_evolve_model_$seed").toString
      val cfg = StateStore.Config(buckets = 8)
      val ids = (0 until 20).map(i => s"a$i")
      var model: Model = ids.map(_ -> 0).toMap
      // (column name -> id -> value) per committed version, cumulative
      var cols: Vector[String] = Vector.empty
      var colVals: Map[String, Map[String, String]] = Map.empty
      var perVersion = Vector((model, cols, colVals))
      StateStore.write(spark, root, 0L, toState(model), None, cfg)
      for (v <- 1 to 5) {
        val changed = ids.filter(_ => rnd.nextDouble() < 0.3) match {
          case Seq() => Seq(ids(rnd.nextInt(ids.size)))
          case c => c
        }
        model = changed.foldLeft(model)((m, id) => m.updated(id, m(id) + v))
        if (rnd.nextDouble() < 0.5) {
          val c = s"x${cols.size}_$seed"
          cols :+= c
          colVals += c -> Map.empty
        }
        // the new frame carries values for ALL evolved columns on the
        // CHANGED keys only (an unchanged key's bucket is inherited, so
        // its frame value is irrelevant — must read back as the value
        // from the version that last wrote its bucket)
        colVals = cols.map { c =>
          c -> (colVals(c) ++ changed.map(id => id -> s"$c=$id@v$v"))
        }.toMap
        val frame = cols.foldLeft(toState(model).assets) { (df, c) =>
          df.withColumn(c,
            when(col("id").isin(changed: _*), concat_lit(c, v)).otherwise(lit(null)))
        }
        val (st, loaded) = AssetBuckets(
          graft.ingest.Pipeline.emptyState(spark).copy(assets = frame), changed, cfg)
        StateStore.write(spark, root, v.toLong, st, loaded, cfg)
        perVersion :+= ((model, cols, colVals))

        // EVERY committed version reads back its own schema + values
        for (pv <- 0 to v) {
          val (pm, pcols, _) = perVersion(pv)
          val got = StateStore.read(spark, root, pv.toLong).assets
          got.schema.fieldNames.toSet shouldBe
            (Set("id", "type", "identifier", "first_seen", "last_seen",
              "expiration") ++ pcols)
          readRowsOf(got) shouldBe modelRows(pm)
        }
        // and the LATEST version's evolved columns hold exactly the value
        // written by the version that last rewrote each id's bucket
        val latest = StateStore.read(spark, root, v.toLong).assets
        val gotCols = latest.select(
          col("id") +: cols.map(c => col(c)): _*).collect()
          .map(r => r.getString(0) -> cols.zipWithIndex.map { case (c, i) =>
            c -> Option(r.getString(i + 1)) }.toMap).toMap
        // expected: for each id, the value of column c as of the LAST
        // version that rewrote that id's bucket — conservatively check
        // only ids changed THIS version (their bucket is fresh):
        changed.foreach { id =>
          cols.foreach { c =>
            gotCols(id)(c) shouldBe Some(s"$c=$id@v$v")
          }
        }
      }
    }
  }

  private def concat_lit(c: String, v: Int) = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    concat(lit(s"$c="), col("id"), lit(s"@v$v"))
  }

  private def readRowsOf(assets: org.apache.spark.sql.DataFrame): Map[String, Long] =
    assets.collect()
      .map(r => r.getAs[String]("id") ->
        r.getAs[java.sql.Timestamp]("last_seen").getTime).toMap
}
