package examples

import org.apache.spark.sql.functions._

/** End-to-end tour of the library's PUBLIC faces — deliberately outside
  * the `graft` package, so compiling it is the API-surface audit: every
  * call below must resolve through exported (non-`private[graft]`) API.
  *
  * The tour: `GraftSession` builder → fixture envelopes through the
  * `graft-replay` DSv2 source → streaming `Pipeline` fold into the
  * versioned store → the store read back through PLAIN SQL via the
  * mounted `StoreCatalog` (`VERSION AS OF` included) → one dedup, one
  * hybrid-retrieval, and the composed IVFADC similarity query from the
  * declared catalog → `Release.run` writing the split/lang-partitioned
  * corpus artifact.
  *
  * Run from the repo root (README Quickstart):
  * {{{
  * sbt "runMain examples.Quickstart /root/testdata/sf0.001 /tmp/graft_quickstart"
  * }}}
  */
object Quickstart {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-quickstart").toString)
    val fixture = args.lift(2).getOrElse(
      "src/test/resources/fixtures/scenario.json")
    new java.io.File(out).mkdirs()

    // 1. a session with the engine's defaults: 32 shuffle partitions,
    //    parquet timestamp pinning, and the plan-guardrail optimizer rule
    //    (warn mode) injected via SparkSessionExtensions
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 2. ingest: fixture envelopes → a graft-replay log (line = offset) →
    //    admission-controlled micro-batches → Pipeline fold → versioned,
    //    bucket-pruned state store (at-least-once + idempotent versions)
    val log = s"$out/envelopes.jsonl"
    graft.sources.ReplayLog.toLog(spark, fixture, log)
    val statePath = s"$out/state"
    val src = graft.streaming.StreamIngest.replaySource(
      spark, log, maxOffsetsPerTrigger = Some(7L))
    val query = graft.streaming.StreamIngest.start(src, statePath, s"$out/ckpt")
    try query.processAllAvailable() finally query.stop()
    val (_, st) = graft.streaming.StateStore
      .readLatest(spark, statePath, Long.MaxValue)
      .getOrElse(sys.error("ingest committed no state version"))
    println(s"[quickstart] ingested: ${st.assets.count()} asset rows, " +
      s"${st.owns.count()} owns edges at $statePath")

    // 3. the same store through PLAIN SQL: mount the TableCatalog and
    //    time-travel with the engine's native VERSION AS OF syntax
    spark.conf.set("spark.sql.catalog.quickstart",
      classOf[graft.sources.StoreCatalog].getName)
    spark.conf.set("spark.sql.catalog.quickstart.path", statePath)
    val tables = spark.sql("SHOW TABLES IN quickstart").collect().map(_.getString(1))
    val latest = spark.sql(
      "SELECT count(*) AS n FROM quickstart.assets").head().getLong(0)
    // time-travel to the OLDEST retained version (the ingest prunes past
    // its crash-recovery window, so v0 may be gone — retention is the
    // store's contract, not the catalog's)
    val oldest = graft.streaming.StateStore
      .committedVersions(spark, statePath, Long.MaxValue).head
    val vOld = spark.sql(
      s"SELECT count(*) AS n FROM quickstart.assets VERSION AS OF $oldest")
      .head().getLong(0)
    println(s"[quickstart] catalog tables: ${tables.sorted.mkString(", ")}; " +
      s"assets now=$latest, VERSION AS OF $oldest=$vOld")

    // 4. the declared operator catalog over the testdata corpus: MinHash
    //    LSH near-duplicate pairs, RRF hybrid retrieval, and the composed
    //    IVFADC (probe → cell-pruned residual ADC → exact re-rank)
    def peek(name: String): Unit = {
      // one execution: collect once, report count + first row from it
      val rows = graft.SparkEntry.queries(name)(spark, sfDir).collect()
      println(s"[quickstart] $name -> ${rows.length} rows; first: " +
        rows.headOption.fold("<empty>")(_.toString))
    }
    peek("q_minhash_lsh_pairs")
    peek("q_rrf_fusion")
    peek("q_ivfpq_search")

    // 5. the release artifact: corpus-filter gate → deterministic
    //    train/valid/test split → split/lang-partitioned parquet + card +
    //    manifest
    val summary = graft.ext.Release.run(spark, sfDir, s"$out/release")
    println(s"[quickstart] release: $summary")
    val splits = spark.read.parquet(s"$out/release/corpus")
      .groupBy(col("split")).agg(count(lit(1)).as("n"))
      .orderBy(col("split")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(s"[quickstart] release splits: $splits")
    println("[quickstart] OK")
    spark.stop()
  }
}
