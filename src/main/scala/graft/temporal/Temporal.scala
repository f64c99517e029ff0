package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Temporal / ordering operators (SURVEY.md §2.D). */
object Temporal {

  /** D1 — pagination. The reference exposes page/size on every list
    * endpoint (inventory/inventory.go:117-120); size == 0 disables.
    *
    * ORDER BY + LIMIT + OFFSET: Spark plans this as a top-K
    * (TakeOrderedAndProject with offset) — each partition keeps only its
    * local top (page+1)*size rows, so nothing like a global sort or a
    * single-partition window ever runs (a `Window.orderBy` with no
    * partitionBy funnels the WHOLE table through one task — the round-1
    * implementation, a scale-killer). Deep pages degrade as O(page*size)
    * per-partition state — for deep scans use key-set pagination:
    * `WHERE key > last_seen ORDER BY key LIMIT size` ([[paginateAfter]]).
    *
    * `orderCols` must be a total order (include a unique key) for
    * deterministic pages.
    */
  def paginate(df: DataFrame, orderCols: Seq[Column], page: Int, size: Int): DataFrame = {
    // size == 0 disables pagination entirely: no page window means order
    // is not contractual either, and skipping the orderBy spares a full
    // global sort of the input (the unpaginated endpoint calls at scale)
    if (size == 0) df
    else df.orderBy(orderCols: _*).offset(page * size).limit(size)
  }

  /** D1 (scale path) — key-set pagination: the page after `lastSeen` in
    * `keyCol` order. O(size) regardless of depth; the predicate pushes
    * into the scan.
    */
  def paginateAfter(df: DataFrame, keyCol: Column, lastSeen: Column, size: Int): DataFrame =
    df.filter(keyCol > lastSeen).orderBy(keyCol).limit(size)

  /** D2 — valid-at (as-of) temporal predicate: alive at instant `at`.
    * Reference: inventory/inventory.go:173-193 (`valid_at` query param);
    * semantics proven by inventory_test.go:291-298 (first_seen <= T <
    * expiration).
    */
  def validAt(first_seen: Column, expiration: Column, at: Column): Column =
    first_seen <= at && expiration > at

  /** D3 — per-key last-writer-wins compaction of an event batch: keep each
    * key's latest event by `seq` (Kafka offset). Recovers the per-partition
    * ordering guarantee the reference relies on (stream/kafka/kafka.go:76)
    * inside a set-oriented micro-batch.
    *
    * Uses max_by-style aggregation (single shuffle, partial aggregation
    * map-side) rather than a window sort — cheaper at scale.
    *
    * PRECONDITION: `seq` must be strictly unique per key (Kafka offsets
    * are). On a tie max_by picks an arbitrary whole row — deterministic
    * in neither run-to-run nor against per-column-max_by oracles.
    */
  def lastWriterPerKey(df: DataFrame, key: Seq[String], seq: String): DataFrame = {
    val payload = struct(df.columns.filterNot(key.contains).toIndexedSeq.map(col): _*)
    df.groupBy(key.map(col): _*)
      .agg(max_by(payload, col(seq)).as("__last"))
      .select(key.map(col) ++
        df.columns.filterNot(key.contains).map(c => col(s"__last.$c").as(c)): _*)
  }

  /** D3 compacted variant — GLOBAL tombstone-run epochs. Refreshes
    * commute with each other (the upserts aggregate per key), but a
    * tombstone does NOT commute with refreshes of OTHER keys: the expire
    * cascade's active-owner quantifier reads every team's edge on the
    * tombstoned asset, parent-edge expiry touches edges other events
    * re-create, and resolve depends on asset/team existence — so a
    * tombstone must be ordered against EVERY event, exactly as the
    * reference's one-message-at-a-time consumer does. (The per-key
    * variant this replaces was differentially refuted by
    * tombstone-heavy random streams — DifferentialReplaySpec's 40%
    * seeds.) Epochs:
    *
    *   maximal run of offset-consecutive tombstones i (1-based) → 2i
    *   refreshes after run i, before run i+1                    → 2i+1
    *   refreshes before the first run                           → 1
    *
    * Refresh epochs odd, tombstone epochs even — the parity contract the
    * fold's sided fast path relies on. Every tombstone run is a
    * sequential barrier BY THE REFERENCE'S SEMANTICS (no engine can
    * commute a deletion past the events around it); runs are rare in
    * production streams (deletions), and the run count is loudly capped
    * at 4096 — a batch beyond that must be split upstream.
    *
    * Scale shape — NO global window: the global refresh-prefix count
    * r(o) uses the engine's two-level scheme (range counts → bounded
    * driver carry → within-range prefix window; offsets are unique, so
    * a range of the span/4096 width bounds its own row count on dense
    * offset spaces). A tombstone's run id IS r(o): two tombstones share
    * a run iff no refresh sits between them iff their refresh-prefix
    * counts are equal. A refresh with r(o)=x sits strictly AFTER every
    * run with id <= x and BEFORE every run with id > x (the run with id
    * x lies between refresh #x and refresh #x+1, and a refresh with x
    * refreshes before it IS refresh #x+1). Zero-tombstone batches — the
    * common streaming case — take a constant fast path: every row epoch
    * 1, no window at all.
    */
  def withTombstoneRunEpochs(df: DataFrame, seq: String, isNil: String): DataFrame = {
    val spark = df.sparkSession
    val head = df.agg(min(col(seq)).as("lo"), max(col(seq)).as("hi"),
      sum(when(col(isNil), 1L).otherwise(0L)).as("tombs")).collect()(0)
    if (head.isNullAt(0)) return df.withColumn("__epoch", lit(1)) // empty batch
    val (lo, hi) = (head.getLong(0), head.getLong(1))
    if (head.getLong(2) == 0L) return df.withColumn("__epoch", lit(1))

    // two-level global prefix: r(o) = #refreshes at offsets < o. `lo` and
    // the width differ from batch to batch; as long literals they would be
    // inlined into generated code and make every batch compile its own
    // classes, so they ride as decimal literals, which the code reads by
    // reference (same range ids as long arithmetic)
    val width = math.max(1L, (hi - lo) / 4096L + 1L)
    def byRef(v: Long): Column = lit(java.math.BigDecimal.valueOf(v)).cast(DecimalType(20, 0))
    val ranged = df.withColumn("__rg",
      ((col(seq).cast(DecimalType(20, 0)) - byRef(lo)) / byRef(width)).cast("long"))
    val perRange = ranged.groupBy(col("__rg"))
      .agg(sum(when(!col(isNil), 1L).otherwise(0L)).as("n"))
      .orderBy(col("__rg")).collect() // <= 4097 rows by construction
    var acc = 0L
    val carrySeq = perRange.toSeq.map { r =>
      val c = acc; acc += r.getLong(1); (r.getLong(0), c)
    }
    import spark.implicits._
    val carry = broadcast(carrySeq.toDF("__rg", "__carry"))
    val wIn = Window.partitionBy(col("__rg")).orderBy(col(seq))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withR = ranged.join(carry, "__rg")
      .withColumn("__r", col("__carry") +
        coalesce(sum(when(!col(isNil), 1L).otherwise(0L)).over(wIn), lit(0L)))

    // distinct run ids, bounded and loud: each is a sequential barrier
    val runs = withR.filter(col(isNil)).select(col("__r")).distinct()
      .orderBy(col("__r")).limit(4097).collect().map(_.getLong(0)).toSeq
    require(runs.length <= 4096,
      s"batch holds >4096 tombstone runs — each run is a sequential barrier " +
        "under reference semantics; split the batch (smaller trigger) upstream")
    val runArr = array(runs.map(lit(_)): _*)
    withR.withColumn("__epoch",
      when(col(isNil), array_position(runArr, col("__r")) * 2)
        .otherwise(size(filter(runArr, c => c <= col("__r"))) * 2 + 1)
        .cast("int"))
      .drop("__rg", "__carry", "__r")
  }

  /** D4 — top-k per group, e.g. "latest N assets per team".
    * `order` must totally order rows within a group for determinism.
    */
  def topKPerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(order: _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** D5 — as-of snapshot diff: rows whose interval-liveness differs
    * between instants `t1` and `t2`, labeled `'added'` (live at t2 only)
    * or `'removed'` (live at t1 only). Liveness is the owns-edge
    * convention: `start <= T && (end IS NULL || end > T)`.
    *
    * Scale shape: ONE pass over the edge table — both as-of predicates
    * are per-row expressions compared in place. The naive formulation
    * (full-outer-join the two as-of VIEWS on the key) shuffles the table
    * against itself; this reads it once and shuffles nothing.
    */
  def asOfDiff(df: DataFrame, start: String, end: String,
      t1: Column, t2: Column): DataFrame = {
    def activeAt(t: Column) =
      col(start) <= t && (col(end).isNull || col(end) > t)
    df.withColumn("__a1", activeAt(t1)).withColumn("__a2", activeAt(t2))
      .filter(col("__a1") =!= col("__a2"))
      .withColumn("change", when(col("__a2"), "added").otherwise("removed"))
      .drop("__a1", "__a2")
  }

  /** D6 — first-touch conversion funnel: per key, walk the key's events
    * in `(epoch-seconds, ord)` order; the first `steps(0)` event opens
    * the funnel, and each subsequent step must arrive within
    * `windowSecs` of the PREVIOUS step's event to advance. Greedy
    * first-touch: a step that misses its window stalls the funnel for
    * good (no restart on a later `steps(0)`).
    *
    * Returns one row per key: `(key, stage, last_step_epoch)` where
    * stage ∈ [0, steps.size] and last_step_epoch is the completed step's
    * epoch (null at stage 0).
    *
    * Scale shape: ONE shuffle (the groupBy on `key`), then a per-key
    * sorted-array fold with an integer accumulator — the textbook k-way
    * self-join funnel scans the event table once per step and shuffles
    * k times. Per-key event counts must be bounded (they are in any
    * retention-windowed stream) for the collect_list; `maxEventsPerKey`
    * enforces that contract LOUDLY (an in-plan raise_error naming the
    * key, the ancestorsClosure maxDepth pattern) instead of letting a
    * pathological key OOM a task with no diagnosis. The streaming twin
    * ([[graft.streaming.StreamAnalytics]]) holds 2 ints/key and has no
    * such bound.
    *
    * Epochs are SECONDS (ts cast to long) and the sort key is
    * `(epoch, ord)` — any engine replicating the fold (the DuckDB
    * oracle does) must pin the identical order, so ties within one
    * second resolve by `ord`, never by sub-second precision one engine
    * keeps and the other floors away.
    */
  def funnel(df: DataFrame, key: String, ts: String, ord: String,
      et: String, steps: Seq[String], windowSecs: Long,
      maxEventsPerKey: Int = 1 << 20): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxEventsPerKey > 0, "maxEventsPerKey must be positive")
    val seq = sort_array(collect_list(struct(
      col(ts).cast("long").as("ep"), col(ord).as("o"), col(et).as("et"))))
    def adv(to: Int, x: Column) = struct(lit(to).as("stage"), x("ep").as("ep"))
    val fold = aggregate(col("__seq"),
      struct(lit(0).as("stage"), lit(0L).as("ep")),
      (acc, x) => steps.zipWithIndex.foldRight(acc) { case ((step, i), els) =>
        val hit = acc("stage") === i && x("et") === step &&
          (if (i == 0) lit(true) else x("ep") <= acc("ep") + windowSecs)
        when(hit, adv(i + 1, x)).otherwise(els)
      })
    df.groupBy(col(key))
      .agg(seq.as("__seq"))
      // guard INSIDE the fold input so column pruning can't drop it: an
      // over-cap key fails the job with its key in the message rather
      // than OOMing a task anonymously
      .withColumn("__seq", when(size(col("__seq")) > maxEventsPerKey,
        raise_error(concat(lit("funnel key "), col(key).cast("string"),
          lit(s" exceeds maxEventsPerKey=$maxEventsPerKey — raise the cap or pre-filter"))))
        .otherwise(col("__seq")))
      .withColumn("__f", fold)
      .select(col(key), col("__f.stage").as("stage"),
        when(col("__f.stage") > 0, col("__f.ep")).as("last_step_epoch"))
  }
}
