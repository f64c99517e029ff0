package graft

import org.apache.spark.sql.SparkSession

/** The engine's canonical SparkSession configuration — ONE place that
  * encodes how this library deploys, from the local[] harness mains to a
  * 1000-executor cluster. Callers layer deployment specifics (master,
  * executor sizing, shuffle-partition count) on top of the returned
  * builder.
  *
  * Required by the engine (correctness, not tuning):
  *  - `spark.sql.session.timeZone=UTC` — every temporal operator and the
  *    DuckDB oracle agree on UTC; a local-zone session would shift
  *    RFC3339 formatting and window boundaries.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true` — the events testdata
  *    (and production TIMESTAMP(NANOS) sources) must read as long nanos;
  *    without it the scan throws on nanosecond parquet.
  *
  * Pinned scale behavior (defaults today, pinned so a cluster-side
  * default override cannot silently regress the plans the operators are
  * designed around):
  *  - AQE + partition coalescing + skew-join splitting: every large join
  *    and aggregation in the engine assumes runtime re-planning absorbs
  *    moderate skew (the explicit `Skew.saltedJoin` escape hatch covers
  *    the pathological single-key case AQE splits too late).
  *  - parquet filter pushdown: the scan-heavy queries are written so
  *    predicates and projections reach the reader (PlanAudit checks
  *    `PushedFilters`/`ReadSchema`).
  *
  * Sized to the engine's working set:
  *  - `spark.sql.codegen.cache.maxEntries` (see the comment at the
  *    setting). Spark keeps generated classes in ONE JVM-wide cache and
  *    reads its size once, at the JVM's first code generation. The pin
  *    therefore takes effect only when a session built here is the first
  *    to generate code in its JVM — true for the `Verify`/`Bench` mains,
  *    the consumer-loop benchmark's driver and the test suites' shared
  *    session; a JVM that generated code before building this session
  *    keeps the size it started with.
  *
  * @param shufflePartitions sized so one shuffle partition of the
  *        LARGEST stage fits executor memory at the target scale —
  *        local harnesses pass the core count; a 100 TB deployment sizes
  *        this in the thousands (input_bytes / ~128 MB is the usual
  *        starting point) and lets AQE coalesce the small stages.
  */
object GraftSession {

  def builder(shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      // plan guardrails (graft.plans.Guardrails): WARN by default —
      // cartesian joins and global windows over possibly-large inputs are
      // logged at PLAN time (the engine's own catalog plans clean, so
      // internal queries never trigger it); spark.graft.guardrails=fail
      // escalates, =off opts out
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Parquet written with isAdjustedToUTC=false must still read as an
      // instant (TIMESTAMP, session TZ = UTC above), not TIMESTAMP_NTZ:
      // the whole temporal operator set (window(), epoch casts, RFC3339
      // formatting) and the DuckDB oracle treat stored micros as UTC wall
      // clock. Spark 4's NTZ inference would instead surface such columns
      // as TIMESTAMP_NTZ, where `cast(ts AS LONG)` is not even definable —
      // the engine pins instant semantics whatever the writer's flag.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE sizes post-shuffle partitions BY BYTES (parallelismFirst
      // target = max(totalBytes / parallelism, minPartitionSize)), which
      // serializes this engine's many CPU-heavy small-byte reduce stages
      // (codec/media decode groups, k-means member folds, text-hash
      // aggregations: KBs of bytes, seconds of CPU) to one or two tasks
      // under the default 1 MB floor. r14 A/B'd BOTH directions at 32
      // cores: removing the floor in favor of explicit decode-stage
      // repartitions (DecodeStage.spread) recovered the spread sites but
      // regressed every OTHER CPU-heavy small stage — ~20 s across the
      // 204-query bench (q_zstd_dict 0.40→1.09 s, q_warc_seek 0.23→0.60,
      // plus dozens of 0.1-0.3 s hits) — while the floor's tiny-task
      // scheduling cost on genuinely byte-proportional shuffles totals
      // only ~2-4 s (q_bloom_semijoin 0.70→1.07, q_dup_span_ratio
      // 0.27→0.77, q_bpe_encode 0.51→0.81). 64k stays: the formula is
      // scale-adaptive — any stage whose bytes/parallelism exceeds the
      // floor (every real stage at cluster scale) is sized exactly as
      // under the default, so this only affects stages whose byte size
      // UNDERSTATES their CPU cost. Deployments layering on this builder
      // can override it like any other conf. DecodeStage.spread stays on
      // the decode sites as the structural, floor-independent sizing.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Generated-class cache (JVM-global LRU, sized at first use — see
      // the scaladoc). At Spark's default of 100 entries the streaming
      // fold evicts its own classes: EVERY 50-event trigger recompiled
      // 198-201 classes (CodegenMetrics count), about 3 s of Janino time
      // summed over threads at 4 cores. Entries are per class loader (in
      // local mode the driver and the executors each compile a stage's
      // class once): a trickle run of six triggers plus reads made 320
      // entries, a two-trigger backfill run plus reads 443. 1024 holds
      // that with headroom for catalog queries sharing the JVM, and a warm
      // fold trigger then compiles (next to) nothing. Memory cost, driver
      // JVM Metaspace used at the end of a two-trigger backfill run
      // (jstat MU, 4 cores): 179-182 MiB, against 178-180 MiB at the
      // default size, whose evicted classes are unloaded.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // The cache key is the generated source, and by default the class
      // name carries the whole-stage codegen stage id. AQE numbers a
      // query's stages in the order it creates them, which varies from
      // run to run when several exchanges start at once, so the same
      // stage code came back under a new name and compiled again: a warm
      // fold trigger compiled 12 classes in about one run of three
      // (CodegenReuseSpec). Without the id in the name, equal code is one
      // cache entry whatever its stage number.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // Streaming keyed state lives in RocksDB, not executor heap: the
      // default HDFSBackedStateStore holds EVERY key of every stateful
      // operator in JVM memory — a watermarked join or dedup over a
      // 100 TB stream OOMs long before the stream does. RocksDB bounds
      // memory with a block cache and spills state to local SSD, and
      // changelog checkpointing uploads per-batch DELTAS to the
      // checkpoint location instead of re-snapshotting full SST files
      // (the engine's own StateStore likewise rewrites only touched
      // buckets, not the whole state).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

  /** Local harness session (Verify/Bench/tests): `local[cpus]`, UI off. */
  def local(cpus: Int): SparkSession.Builder =
    builder(shufflePartitions = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
}
