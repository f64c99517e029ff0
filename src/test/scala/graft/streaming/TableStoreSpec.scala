package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec
import java.nio.file.Files

/** The generic versioned table store ([[TableStore]]) — StateStore's
  * shadow-paging machinery opened to arbitrary table sets: full writes,
  * key-level incremental upserts with bucket-granular write I/O,
  * untouched-table pointer inheritance, idempotent redelivery, and the
  * additive-schema contract.
  */
class TableStoreSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private val specs = Seq(
    TableStore.Spec("dim", Seq("k")),
    TableStore.Spec("facts", Seq("id")))
  private val cfg = StateStore.Config(buckets = 8)

  private def tmp(): String =
    Files.createTempDirectory("graft-tablestore").toString

  private def dim(rows: (String, Long)*) = rows.toDF("k", "v")
  private def facts(rows: (Long, String)*) = rows.toDF("id", "payload")

  test("full write + read round-trip for both tables") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L, "b" -> 2L),
        "facts" -> facts(1L -> "x", 2L -> "y", 3L -> "z")), cfg = cfg)
    TableStore.read(spark, root, 0L, "dim")
      .as[(String, Long)].collect().sorted shouldBe Seq("a" -> 1L, "b" -> 2L)
    TableStore.read(spark, root, 0L, "facts")
      .as[(Long, String)].collect().sorted shouldBe
      Seq(1L -> "x", 2L -> "y", 3L -> "z")
    TableStore.latestVersion(spark, root) shouldBe Some(0L)
  }

  test("incremental write: delta keys upsert, absent keys survive, untouched table inherits") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 20L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    // delta: replace id 3, add id 21; dim untouched (absent from frames)
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(3L -> "NEW", 21L -> "ADDED")), delta = true, cfg = cfg)

    val got = TableStore.read(spark, root, 1L, "facts")
      .as[(Long, String)].collect().toMap
    got(3L) shouldBe "NEW"
    got(21L) shouldBe "ADDED"
    got(7L) shouldBe "p7" // an untouched key in a (probably) untouched bucket
    got should have size 21
    // the untouched table's pointers must all still name v0 (no rewrite)
    val m1 = StateStore.readManifest(spark, root, 1L).get
    m1.pointers("dim").values.toSet shouldBe Set(0L)
    // facts rewrote ONLY the buckets the two delta keys hash into
    val v1Buckets = m1.pointers("facts").filter(_._2 == 1L).keySet
    v1Buckets.size should be <= 2
    // and v0's remaining buckets still serve their rows
    (m1.pointers("facts").values.toSet - 1L) shouldBe Set(0L)
  }

  test("redelivered incremental write commits idempotently (same version, same delta)") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x", 2L -> "y")), cfg = cfg)
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(2L -> "y2")), delta = true, cfg = cfg)
    // redelivery: exact same write again must neither throw nor corrupt
    noException should be thrownBy TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(2L -> "y2")), delta = true, cfg = cfg)
    TableStore.read(spark, root, 1L, "facts")
      .as[(Long, String)].collect().toMap shouldBe Map(1L -> "x", 2L -> "y2")
  }

  test("version history: older versions keep reading their own content") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x")), cfg = cfg)
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(1L -> "x2")), delta = true, cfg = cfg)
    TableStore.read(spark, root, 0L, "facts")
      .as[(Long, String)].collect().toMap shouldBe Map(1L -> "x")
    TableStore.read(spark, root, 1L, "facts")
      .as[(Long, String)].collect().toMap shouldBe Map(1L -> "x2")
  }

  test("schema evolution: additive ok (inherited buckets null-fill), narrowing refused") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 20L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    // additive: new column `extra` rides the delta rows
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> Seq((21L, "n", 9L)).toDF("id", "payload", "extra")),
      delta = true, cfg = cfg)
    val got = TableStore.read(spark, root, 1L, "facts")
    got.schema.fieldNames should contain("extra")
    got.filter($"id" === 21L).select("extra").as[Long].head() shouldBe 9L
    got.filter($"id" === 7L).select("extra").as[Option[Long]].head() shouldBe None
    // narrowing (payload dropped) must be refused loudly
    val e = intercept[IllegalArgumentException] {
      TableStore.write(spark, root, 2L, specs,
        Map("facts" -> Seq((22L, 1L)).toDF("id", "extra")), delta = true, cfg = cfg)
    }
    e.getMessage should include("narrows")
  }

  test("deletes: a delete-only commit retracts the keys; untouched buckets inherit") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 20L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    TableStore.write(spark, root, 1L, specs, Map.empty, delta = true, cfg = cfg,
      deletes = Map("facts" -> Seq(3L, 11L).toDF("id")))
    val got = TableStore.read(spark, root, 1L, "facts")
      .as[(Long, String)].collect().toMap
    got.keySet shouldBe (1L to 20L).toSet -- Set(3L, 11L)
    // only the two keys' buckets were rewritten; dim inherited untouched
    val m1 = StateStore.readManifest(spark, root, 1L).get
    m1.pointers("facts").filter(_._2 == 1L).keySet.size should be <= 2
    m1.pointers("dim").values.toSet shouldBe Set(0L)
    // and v0 still serves the pre-delete content (erasure is versioned)
    TableStore.read(spark, root, 0L, "facts").count() shouldBe 20L
  }

  test("deletes: a bucket every row left drops its pointer instead of pointing at emptiness") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x", 2L -> "y")), cfg = cfg)
    TableStore.write(spark, root, 1L, specs, Map.empty, delta = true, cfg = cfg,
      deletes = Map("facts" -> Seq(1L, 2L).toDF("id")))
    TableStore.read(spark, root, 1L, "facts").count() shouldBe 0L
    // zero pointers — the manifest may omit the table entry entirely
    StateStore.readManifest(spark, root, 1L).get
      .pointers.getOrElse("facts", Map.empty) shouldBe empty
  }

  test("deletes: a key in both the delta and the deletes survives with the delta's rows") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x", 2L -> "y")), cfg = cfg)
    // delete-then-reinsert: key 1 retracted AND redelivered in one commit
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(1L -> "REBORN")), delta = true, cfg = cfg,
      deletes = Map("facts" -> Seq(1L, 2L).toDF("id")))
    TableStore.read(spark, root, 1L, "facts")
      .as[(Long, String)].collect().toMap shouldBe Map(1L -> "REBORN")
  }

  test("deletes: refused on a full write (nothing committed to retract from)") {
    val root = tmp()
    intercept[IllegalArgumentException] {
      TableStore.write(spark, root, 0L, specs,
        Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x")), cfg = cfg,
        deletes = Map("facts" -> Seq(1L).toDF("id")))
    }.getMessage should include("deletes")
  }

  test("diff: the maintenance commit's audit trail, retraction included") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 10L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(3L -> "NEW", 11L -> "ADDED")), delta = true, cfg = cfg,
      deletes = Map("facts" -> Seq(7L).toDF("id")))
    val d = TableStore.diff(spark, root, "facts", 0L, 1L)
      .select($"change", $"id", $"payload").as[(String, Long, String)]
      .collect().toSet
    d shouldBe Set(
      ("added", 3L, "NEW"), ("added", 11L, "ADDED"),
      ("removed", 3L, "p3"), ("removed", 7L, "p7"))
    // untouched table diffs empty
    TableStore.diff(spark, root, "dim", 0L, 1L).count() shouldBe 0L
  }

  test("rebucket: content survives a modulus change and deltas resume at the new modulus") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 30L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    // an incremental write under a different modulus is refused loudly
    intercept[IllegalArgumentException] {
      TableStore.write(spark, root, 1L, specs,
        Map("facts" -> facts(1L -> "x")), delta = true,
        cfg = StateStore.Config(buckets = 32))
    }.getMessage should include("rebucket")
    // the documented growth path: one full rewrite at the new modulus
    val v1 = TableStore.rebucket(spark, root, specs, StateStore.Config(buckets = 32))
    v1 shouldBe 1L
    StateStore.readManifest(spark, root, 1L).get.buckets shouldBe 32
    TableStore.read(spark, root, 1L, "facts")
      .as[(Long, String)].collect().toMap shouldBe
      (1L to 30L).map(i => i -> s"p$i").toMap
    // deltas (upserts AND tombstones) now work at the new modulus
    TableStore.write(spark, root, 2L, specs,
      Map("facts" -> facts(31L -> "NEW")), delta = true,
      cfg = StateStore.Config(buckets = 32),
      deletes = Map("facts" -> Seq(7L).toDF("id")))
    val got = TableStore.read(spark, root, 2L, "facts")
      .as[(Long, String)].collect().toMap
    got.keySet shouldBe ((1L to 31L).toSet - 7L)
  }

  test("describe: per-(version, table) census from manifests alone") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 20L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(3L -> "NEW")), delta = true, cfg = cfg)
    val d = TableStore.describe(spark, root)
      .select($"version", $"table", $"buckets", $"live_buckets",
        $"buckets_written_here", $"live_bytes")
      .as[(Long, String, Int, Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    d((0L, "facts"))._3 shouldBe 8 // modulus
    d((0L, "facts"))._6 should be > 0L // live bytes resolved
    // v1 rewrote only the delta key's bucket; the rest inherit
    d((1L, "facts"))._5 shouldBe 1
    d((1L, "facts"))._4 shouldBe d((0L, "facts"))._4 // live bucket count unchanged
    d((1L, "dim"))._5 shouldBe 0 // untouched table wrote nothing here
  }

  test("describe: orphan_bytes reports crash remnants no manifest references") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts((1L to 20L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    def census(): (Long, Long) = TableStore.describe(spark, root)
      .select($"orphan_bytes", $"staging_bytes").as[(Long, Long)].head()
    census() shouldBe ((0L, 0L)) // a clean store leaks nothing
    // plant the two crash-remnant shapes prune reclaims: an abandoned
    // staging dir and a promoted-but-never-committed version dir. They
    // land in SEPARATE columns: a .staging-* dir may equally be a LIVE
    // writer mid-flight (the census has no clock to tell), so only the
    // promoted remnant counts as a definite orphan.
    val staging = new java.io.File(s"$root/.staging-v9-deadbeef/facts/pt=0")
    staging.mkdirs() shouldBe true
    java.nio.file.Files.write(staging.toPath.resolve("part-0.parquet"),
      Array.fill[Byte](100)(1))
    val promoted = new java.io.File(s"$root/v9/d-deadbeef/facts/pt=0")
    promoted.mkdirs() shouldBe true
    java.nio.file.Files.write(promoted.toPath.resolve("part-0.parquet"),
      Array.fill[Byte](50)(1))
    census() shouldBe ((50L, 100L))
    // a committer marker directly under a REFERENCED table data dir is
    // metadata, not an orphan — object-store committers (S3A) write
    // non-empty JSON markers there, and local _SUCCESS is merely 0 bytes;
    // without the marker carve-out every committed version would add
    // persistent phantom orphan_bytes
    val versionDir = new java.io.File(s"$root/v0").listFiles()
      .filter(_.isDirectory).head // the d-<token> data dir, not MANIFEST/.crc
    java.nio.file.Files.write(
      new java.io.File(versionDir, "facts/_SUCCESS").toPath,
      Array.fill[Byte](25)(1))
    census() shouldBe ((50L, 100L))
    // live bytes are untouched by the remnants, and a pin file is metadata
    StateStore.pinVersion(spark, root, 0L, "reader1")
    census() shouldBe ((50L, 100L))
    StateStore.unpin(spark, root, "reader1")
  }

  test("sig CAS: redelivery stays idempotent when a delete empties one table while another upserts") {
    // the empty-sig asymmetry regression: the emptied table records NO
    // sig line in the manifest, and an in-memory empty entry on the
    // redelivery side must not make the byte-identical commit fail the
    // content compare (the pointer map has the same normalization)
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L),
        "facts" -> facts(1L -> "x")), cfg = cfg)
    def v1(): Unit = TableStore.write(spark, root, 1L, specs,
      Map("dim" -> dim("b" -> 2L)), delta = true, cfg = cfg,
      deletes = Map("facts" -> Seq(1L).toDF("id")))
    v1() // facts empties entirely: zero buckets staged, no sig lines
    noException should be thrownBy v1() // identical redelivery
    TableStore.latestVersion(spark, root) shouldBe Some(1L)
    TableStore.read(spark, root, 1L, "facts").count() shouldBe 0L
    // ...while a DIFFERENT-content racer on the non-empty table still loses
    intercept[StateStore.ConcurrentWriteException] {
      TableStore.write(spark, root, 1L, specs,
        Map("dim" -> dim("b" -> 99L)), delta = true, cfg = cfg,
        deletes = Map("facts" -> Seq(1L).toDF("id")))
    }.getMessage should include("different content")
  }

  test("map-typed columns still write (sig signs the hashable columns only)") {
    // hash functions reject MapType: the content signature must degrade
    // to the hashable columns, never refuse a schema the store accepted
    // before the sig existed
    val root = tmp()
    val mspec = Seq(TableStore.Spec("m", Seq("k")))
    def frame(v: String) = Seq((1L, Map("tag" -> v)))
      .toDF("k", "props")
    TableStore.write(spark, root, 0L, mspec, Map("m" -> frame("a")), cfg = cfg)
    TableStore.write(spark, root, 1L, mspec, Map("m" -> frame("b")),
      delta = true, cfg = cfg)
    // identical redelivery is idempotent through the degraded compare
    noException should be thrownBy TableStore.write(spark, root, 1L, mspec,
      Map("m" -> frame("b")), delta = true, cfg = cfg)
    TableStore.read(spark, root, 1L, "m")
      .select(org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.col("props"), "tag"))
      .as[String].head() shouldBe "b"
  }

  test("spec validation: manifest-unsafe and reserved names are refused at write time") {
    val root = tmp()
    def attempt(s: TableStore.Spec): IllegalArgumentException =
      intercept[IllegalArgumentException] {
        TableStore.write(spark, root, 0L, Seq(s),
          Map(s.name -> dim("a" -> 1L).withColumnRenamed("k", s.bucketCols.head)),
          cfg = cfg)
      }
    // a space breaks pointer-line parsing of a COMMITTED store; ':'/'='
    // silently mis-parse key:/schema: lines — all refused before any write
    attempt(TableStore.Spec("my table", Seq("k"))).getMessage should include("manifest-safe")
    attempt(TableStore.Spec("t=x", Seq("k"))).getMessage should include("manifest-safe")
    attempt(TableStore.Spec("key:t", Seq("k"))).getMessage should include("manifest-safe")
    attempt(TableStore.Spec("END", Seq("k"))).getMessage should include("manifest-safe")
    // graph names are reserved: the manifest cannot distinguish a generic
    // 'assets' from the graph table, and the SQL catalog could never list it
    attempt(TableStore.Spec("assets", Seq("k"))).getMessage should include("reserved")
    // a ',' in a key column would split into wrong columns on read
    intercept[IllegalArgumentException] {
      TableStore.validateSpecs(Seq(TableStore.Spec("t", Seq("a,b"))))
    }.getMessage should include("manifest-safe")
    // duplicate names are refused too
    intercept[IllegalArgumentException] {
      TableStore.validateSpecs(Seq(
        TableStore.Spec("t", Seq("a")), TableStore.Spec("t", Seq("b"))))
    }.getMessage should include("duplicate")
  }

  test("null keys: upsert replaces and tombstone retracts null-key rows (null-safe join)") {
    val root = tmp()
    val s = Seq(TableStore.Spec("t", Seq("k")))
    def rows(r: (Option[String], Long)*) =
      r.map { case (k, v) => (k.orNull, v) }.toDF("k", "v")
    TableStore.write(spark, root, 0L, s,
      Map("t" -> rows(Some("a") -> 1L, None -> 99L, Some("b") -> 2L)), cfg = cfg)
    // redelivering the null-key row must REPLACE it, not duplicate it
    TableStore.write(spark, root, 1L, s,
      Map("t" -> rows(None -> 100L)), delta = true, cfg = cfg)
    TableStore.read(spark, root, 1L, "t").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap shouldBe
      Map(Some("a") -> 1L, None -> 100L, Some("b") -> 2L)
    // and a tombstone for the null key must actually erase it (the GDPR
    // path must not silently no-op while reporting success)
    TableStore.write(spark, root, 2L, s, Map.empty, delta = true, cfg = cfg,
      deletes = Map("t" -> rows(None -> 0L).select($"k")))
    TableStore.read(spark, root, 2L, "t").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap shouldBe
      Map(Some("a") -> 1L, Some("b") -> 2L)
  }

  test("diff across a rebucket boundary stays exact and minimal (slices by the moduli's gcd)") {
    // 8 -> 32 slices by gcd 8, 8 -> 12 by gcd 4: either way a row's old
    // and new buckets share a slice, so the diff stays exact and minimal
    for (to <- Seq(32, 12)) withClue(s"rebucket 8 -> $to: ") {
      val root = tmp()
      TableStore.write(spark, root, 0L, specs,
        Map("dim" -> dim("a" -> 1L),
          "facts" -> facts((1L to 30L).map(i => i -> s"p$i"): _*)), cfg = cfg)
      TableStore.rebucket(spark, root, specs, StateStore.Config(buckets = to))
      // content did not change across the rebucket — the diff must be
      // EMPTY even though every pointer changed
      TableStore.diff(spark, root, "facts", 0L, 1L).count() shouldBe 0L
      // a real delta after the rebucket diffs v0 -> v2 across the boundary
      TableStore.write(spark, root, 2L, specs,
        Map("facts" -> facts(3L -> "NEW", 31L -> "ADDED")), delta = true,
        cfg = StateStore.Config(buckets = to),
        deletes = Map("facts" -> Seq(7L).toDF("id")))
      TableStore.diff(spark, root, "facts", 0L, 2L)
        .select($"change", $"id", $"payload").as[(String, Long, String)]
        .collect().toSet shouldBe Set(
        ("added", 3L, "NEW"), ("added", 31L, "ADDED"),
        ("removed", 3L, "p3"), ("removed", 7L, "p7"))
    }
  }

  test("compact: one file per bucket, content-equal, old versions reclaimed") {
    val root = tmp()
    // several incremental commits -> multi-file buckets across versions
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim(('a' to 'p').map(c => c.toString -> c.toLong): _*),
        "facts" -> facts((1L to 40L).map(i => i -> s"p$i"): _*)), cfg = cfg)
    for (v <- 1L to 3L)
      TableStore.write(spark, root, v, specs,
        Map("facts" -> facts((v * 10 to v * 10 + 5).map(i => i -> s"u$v-$i"): _*)),
        delta = true, cfg = cfg)
    val expectDim = TableStore.read(spark, root, 3L, "dim")
      .as[(String, Long)].collect().sorted
    val expectFacts = TableStore.read(spark, root, 3L, "facts")
      .as[(Long, String)].collect().sorted
    val report = TableStore.compact(spark, root, specs, cfg).collect()
      .map(r => r.getString(0) -> r).toMap
    // content survives byte-for-byte (rows, not files)
    TableStore.read(spark, root, 4L, "dim")
      .as[(String, Long)].collect().sorted shouldBe expectDim
    TableStore.read(spark, root, 4L, "facts")
      .as[(Long, String)].collect().sorted shouldBe expectFacts
    // audit: files dropped to one per live bucket, versions collapsed to 1
    val facts4 = report("facts")
    facts4.getAs[Long]("files_after") should be <= facts4.getAs[Long]("files_before")
    facts4.getAs[Long]("files_after") should be <= cfg.buckets.toLong
    facts4.getAs[Long]("versions_after") shouldBe 1L
    facts4.getAs[Boolean]("sig_ok") shouldBe true
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(4L)
    // one parquet file per pt dir, verified against the filesystem
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val v4 = new org.apache.hadoop.fs.Path(s"$root/v4")
    val ptDirs = fs.listFiles(v4, true)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    while (ptDirs.hasNext) {
      val f = ptDirs.next()
      if (f.getPath.getName.endsWith(".parquet") || f.getPath.getName.startsWith("part-")) {
        val d = f.getPath.getParent.toString
        if (d.contains("pt=")) counts(d) = counts.getOrElse(d, 0) + 1
      }
    }
    counts.values.foreach(_ shouldBe 1)
  }

  test("compact: a partial spec list is refused loudly and nothing is lost") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x")), cfg = cfg)
    // omitting 'dim' would drop it from the rebuilt manifest and prune
    // its data — compact must refuse before writing anything (ADVICE r12)
    val ex = intercept[IllegalArgumentException] {
      TableStore.compact(spark, root, specs.filter(_.name == "facts"), cfg)
    }
    ex.getMessage should include("dim")
    // the refusal left the store untouched: head unchanged, both readable
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(0L)
    TableStore.read(spark, root, 0L, "dim")
      .as[(String, Long)].collect() shouldBe Array("a" -> 1L)
    TableStore.read(spark, root, 0L, "facts")
      .as[(Long, String)].collect() shouldBe Array(1L -> "x")
  }

  test("compact: map-typed columns are signed, not skipped (audit non-vacuous)") {
    import org.apache.spark.sql.functions.{col, map_from_entries}
    val root = tmp()
    val mspecs = Seq(TableStore.Spec("props", Seq("id")))
    // a table whose ONLY payload is a map column — under the old
    // drop-map-columns signature this audited a constant independent of
    // the map content (ADVICE r12)
    val props = Seq(
      (1L, Seq(("lang", "en"), ("src", "web"))),
      (2L, Seq(("lang", "de")))).toDF("id", "kv")
      .select(col("id"), map_from_entries(col("kv")).as("props"))
    TableStore.write(spark, root, 0L, mspecs, Map("props" -> props), cfg = cfg)
    TableStore.write(spark, root, 1L, mspecs,
      Map("props" -> Seq((3L, Seq(("lang", "fr")))).toDF("id", "kv")
        .select(col("id"), map_from_entries(col("kv")).as("props"))),
      delta = true, cfg = cfg)
    val report = TableStore.compact(spark, root, mspecs, cfg).collect()
    report.map(_.getAs[Boolean]("sig_ok")).toSeq shouldBe Seq(true)
    val got = TableStore.read(spark, root, 2L, "props")
      .selectExpr("id", "props['lang']").as[(Long, String)].collect().sorted
    got shouldBe Array(1L -> "en", 2L -> "de", 3L -> "fr")
  }

  test("compact: a reader pin floors the reclaim; the pinned version stays readable") {
    val root = tmp()
    TableStore.write(spark, root, 0L, specs,
      Map("dim" -> dim("a" -> 1L), "facts" -> facts(1L -> "x")), cfg = cfg)
    TableStore.write(spark, root, 1L, specs,
      Map("facts" -> facts(2L -> "y")), delta = true, cfg = cfg)
    StateStore.pinVersion(spark, root, 0L, "reader-1")
    TableStore.compact(spark, root, specs, cfg)
    // v0 survives the compaction's prune and still reads its own content
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(0L, 1L, 2L)
    TableStore.read(spark, root, 0L, "facts")
      .as[(Long, String)].collect() shouldBe Array(1L -> "x")
    // release the pin: the next compaction reclaims everything below head
    StateStore.unpin(spark, root, "reader-1")
    TableStore.compact(spark, root, specs, cfg)
    StateStore.committedVersions(spark, root, Long.MaxValue) shouldBe Seq(3L)
    TableStore.read(spark, root, 3L, "facts")
      .as[(Long, String)].collect().sorted shouldBe Seq(1L -> "x", 2L -> "y")
  }

  test("full write requires every table; unknown table names are refused") {
    val root = tmp()
    intercept[IllegalArgumentException] {
      TableStore.write(spark, root, 0L, specs, Map("dim" -> dim("a" -> 1L)), cfg = cfg)
    }.getMessage should include("full write")
    intercept[IllegalArgumentException] {
      TableStore.write(spark, root, 0L, specs,
        Map("nope" -> dim("a" -> 1L)), cfg = cfg)
    }
  }
}
