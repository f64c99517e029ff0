package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.decode.Decode
import graft.graph.GraphOps
import graft.graph.GraphOps.State
import graft.normalize.Normalize
import graft.schema.Schemas
import graft.state.Upserts
import graft.streaming.StateStore
import graft.temporal.Temporal
import org.apache.spark.sql.GraftSql

/** The full ingestion pipeline: envelope log → temporal-property-graph
  * snapshot tables, set-at-a-time.
  *
  * Replaces the reference's per-message fan-out of 3-10 HTTP round-trips
  * (cmd/graph-vulcan-assets/main.go:19-20, §3.1) with per-micro-batch
  * joins + merges: the whole batch becomes ~4 MERGEs regardless of size.
  *
  * Sequencing: the reference relies on Kafka per-partition order. Only the
  * order AROUND TOMBSTONES is state-relevant — refreshes commute (they
  * aggregate per key) — so a batch is split into GLOBAL tombstone-run
  * epochs ([[Temporal.withTombstoneRunEpochs]]): each maximal run of
  * offset-consecutive tombstones is a sequential barrier, refreshes
  * between runs share one epoch. Epoch count = 2 * tombstone runs + 1 —
  * O(deletions in the batch), not O(events), and 1 for the common
  * deletion-free batch. (The earlier per-key epoching was refuted
  * differentially: the expire cascade couples keys through the
  * active-owner quantifier, so cross-key order around tombstones is
  * state-relevant too — see withTombstoneRunEpochs' scaladoc.)
  *
  * Processing time: the reference stamps `time.Now()` per event; replay
  * stamps each event `baseEpochSecs + offset` seconds — deterministic and
  * strictly increasing in input order.
  */
object Pipeline {

  final case class Config(
      awsAccountAnnotationKey: String = "discovery/aws/account",
      /** Halt at the first bad message (reference parity,
        * vulcan_test.go:155-165): every event BEFORE it is applied and
        * persisted, then the fold throws [[StrictHaltException]].
        * `false` skips bad messages and un-normalizable annotations.
        */
      strict: Boolean = true)

  /** Empty snapshot state with the canonical schemas. */
  def emptyState(spark: SparkSession): State = State(
    assets = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.assetSchema),
    teams = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.teamSchema),
    owns = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.ownsSchema),
    parentOf = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.parentOfSchema))

  /** Refresh path (reference: main.go:116-141) for a batch of decoded
    * non-tombstone events carrying per-event `proc_ts` + `offset`. The
    * batch may hold MANY events per key (one tombstone-free segment);
    * upsert inputs are aggregated per merge key, so state application
    * stays one MERGE per table.
    */
  def refresh(st: State, batch: DataFrame, cfg: Config): State = {
    val b = batch.select(
      col("payload.AssetType").as("type"),
      col("payload.Identifier").as("identifier"),
      col("payload.Team.Id").as("team_identifier"),
      col("payload.Team.Name").as("team_name"),
      col("proc_ts"),
      col("offset"))

    // an un-normalizable account id is skipped here — strict mode has
    // already halted before it (firstInvalid)
    val aws = awsAnnotations(batch, cfg, "proc_ts").filter(col("aws_arn").isNotNull)

    val assetUpdates = b.select(col("type"), col("identifier"), col("proc_ts"))
      .unionByName(aws.select(lit("AWSAccount").as("type"),
        col("aws_arn").as("identifier"), col("proc_ts")))
      .groupBy(col("type"), col("identifier"))
      .agg(min("proc_ts").as("first_seen"), max("proc_ts").as("last_seen"))
      .withColumn("expiration", lit(Schemas.Unexpired))

    // several events may carry the same team in one epoch — last writer
    // (by offset) provides the name, like sequential processing would.
    // A payload without Team.Id (reference cannot produce one — the key
    // always carries the team — but a direct API caller can) must not
    // create a null-keyed team vertex or a null-team owns edge.
    val teamUpdates = b.filter(col("team_identifier").isNotNull)
      .groupBy(col("team_identifier").as("identifier"))
      .agg(max_by(col("team_name"), col("offset")).as("name"))

    // owns start_time = first event of that (team, asset) pair in this
    // segment; upsertOwns preserves an older existing start anyway
    val ownsUpdates = b.filter(col("team_identifier").isNotNull)
      .select(
        col("team_identifier").as("team_id"),
        Upserts.assetId(col("type"), col("identifier")).as("asset_id"),
        col("proc_ts"))
      .groupBy(col("team_id"), col("asset_id"))
      .agg(min("proc_ts").as("start_time"))
      .withColumn("end_time", lit(null).cast("timestamp"))

    val parentUpdates = aws.select(
        concat(lit("AWSAccount/"), col("aws_arn")).as("parent_id"),
        col("child_id"),
        col("proc_ts"))
      .groupBy(col("parent_id"), col("child_id"))
      .agg(min("proc_ts").as("first_seen"), max("proc_ts").as("last_seen"))
      .withColumn("expiration", lit(Schemas.Unexpired))

    State(
      assets = Upserts.upsertAssets(st.assets, assetUpdates),
      teams = Upserts.upsertTeams(st.teams, teamUpdates),
      owns = Upserts.upsertOwns(st.owns, ownsUpdates),
      parentOf = Upserts.upsertParentOf(st.parentOf, parentUpdates))
  }

  /** The AWS-account parents of decoded refresh events (reference:
    * main.go:131-138, 223-243): one row per annotation under the account
    * key, with the refreshed asset's id `child_id`, the raw
    * `annotation_value` and its normalized `aws_arn` — null when the
    * account id cannot be normalized — beside the `keep` columns.
    */
  private def awsAnnotations(refresh: DataFrame, cfg: Config, keep: String*): DataFrame =
    Normalize.matchingAnnotations(
        refresh.select(keep.map(col) ++ Seq(
          Upserts.assetId(col("payload.AssetType"), col("payload.Identifier")).as("child_id"),
          col("payload.Annotations").as("annotations")): _*),
        "annotations", cfg.awsAccountAnnotationKey)
      .withColumn("aws_arn", Normalize.normalizeAwsAccountId(col("annotation_value")))

  /** Expire path (reference: main.go:270-364) for a batch of tombstones
    * carrying per-event `proc_ts`, keeping the cascade's persisted
    * intermediates for release once the resulting state is materialized.
    */
  def expireTracked(st: State, tombstones: DataFrame): GraphOps.Cascade = {
    val tb = tombstones.select(
      col("asset_type"),
      col("identifier").as("asset_identifier"),
      col("team_id").as("team_identifier"),
      col("proc_ts").as("ts"))
    GraphOps.expireCascadeTracked(st, tb)
  }

  /** What an epoch frame is KNOWN to contain.
    * [[Temporal.withTombstoneRunEpochs]] makes every epoch single-sided
    * by construction — refresh epochs odd, tombstone-run epochs even —
    * and the fold exploits that:
    * applying the OTHER side's operator chain to a provably empty frame is
    * a value identity that still pays its full join + checkpoint plan,
    * which measured as the dominant share of the per-micro-batch floor
    * (the per-layer breakdown in foldbench/BREAKDOWN.md).
    */
  sealed trait EpochSide
  case object RefreshEpoch extends EpochSide
  case object TombstoneEpoch extends EpochSide

  /** Apply one single-sided epoch, returning the cascade's persisted
    * intermediates (the caller releases them after checkpointing the
    * state) with the new state. `side` skips the provably-empty
    * half — the `is_nil` filters stay in place either way, so a mislabeled
    * side drops the other half's rows rather than mis-applying them (and
    * the differential replay/golden-state suites would catch it).
    */
  def applyEpochTracked(st: State, epoch: DataFrame, cfg: Config,
      side: EpochSide): GraphOps.Cascade = side match {
    case RefreshEpoch =>
      GraphOps.Cascade(refresh(st, epoch.filter(!col("is_nil")), cfg), cached = Nil)
    case TombstoneEpoch =>
      expireTracked(st, epoch.filter(col("is_nil")))
  }

  /** The key sets a decoded batch can possibly touch in each snapshot
    * table, derived from the batch alone — the read-side contract that
    * lets [[StateStore.readPartialLatest]] load only the buckets a
    * micro-batch needs (O(batch) read I/O, the analog of the reference's
    * per-key point lookups, inventory/inventory.go:382-404).
    *
    * Soundness: every state row any fold step reads or merges is keyed by
    * one of these candidates —
    *  - refresh upserts are keyed by batch asset/team/edge ids;
    *  - the cascade's resolve joins look up tombstoned (type, identifier)
    *    and team ids;
    *  - the C7 quantifier and owns expiry read owner edges BY ASSET ID
    *    (the owns bucket key) of tombstoned assets only;
    *  - dead assets are a subset of tombstoned assets, so their out-edges
    *    live in `parentIds` buckets and their in-edges are discovered via
    *    the reverse index from `childIds`;
    *  - edges a refresh inserts mid-batch land in already-loaded buckets
    *    (their parents are batch AWS-account ids), and their reverse-index
    *    keys in the `edgeChildIds` buckets.
    * Supersets are safe (extra bucket loads); the strict-halt prefix is a
    * subset of the batch, so the same candidates cover it. A miss is
    * caught at staging: [[StateStore.write]] fails on a row outside the
    * buckets it loaded instead of writing it.
    */
  def candidatesOf(decoded: DataFrame, cfg: Config): StateStore.Candidates = {
    val refresh = decoded.filter(col("valid") && !col("is_nil"))
    val tomb = decoded.filter(col("valid") && col("is_nil"))
    val refreshAsset = refresh.select(
      Upserts.assetId(col("payload.AssetType"), col("payload.Identifier")).as("id"))
    val edges = awsAnnotations(refresh, cfg).filter(col("aws_arn").isNotNull)
    val aws = edges.select(concat(lit("AWSAccount/"), col("aws_arn")).as("id"))
    val tombAsset = tomb.select(
      Upserts.assetId(col("asset_type"), col("identifier")).as("id"))
    StateStore.Candidates(
      assetIds = refreshAsset.unionByName(aws).unionByName(tombAsset),
      teamIds = refresh.select(col("payload.Team.Id").as("identifier"))
        .unionByName(tomb.select(col("team_id").as("identifier"))),
      ownsAssetIds = refreshAsset.unionByName(tombAsset).select(col("id").as("asset_id")),
      parentIds = aws.unionByName(tombAsset).select(col("id").as("parent_id")),
      childIds = tombAsset.select(col("id").as("child_id")),
      edgeChildIds = edges.select(col("child_id")))
  }

  /** Fold an envelope batch (with an `offset` column giving total input
    * order) into a snapshot state. Shared by batch [[replay]] and the
    * streaming foreachBatch sink ([[graft.streaming.StreamIngest]]).
    *
    * The base state is SUPPLIED from the batch's candidate keys
    * ([[candidatesOf]]) — the bucket-pruned streaming path: the supplier
    * (typically `StateStore.readPartialLatest`) loads only the state
    * buckets the batch can touch, so per-epoch merge + checkpoint cost is
    * O(loaded buckets) ~ O(batch), not O(state). The candidate frames are
    * lazy plans over the (persisted) decoded batch; a supplier that
    * ignores them costs nothing.
    *
    * @param baseEpochSecs processing-time base; event at `offset` o is
    *        stamped baseEpochSecs + o seconds (the deterministic analog of
    *        the reference's per-event `time.Now()`).
    */
  def fold(
      spark: SparkSession,
      stateFor: StateStore.Candidates => State,
      envelopes: DataFrame,
      cfg: Config,
      baseEpochSecs: Long): State = {
    // persist the decode output BEFORE the strict scan so the batch is
    // decoded once, not once for the halt-point scan and again for the
    // event pipeline
    val decoded = Decode.decode(envelopes).persist()
    var events: DataFrame = null
    try {
      val st0 = tagged(spark, "fold:partial-read")(stateFor(candidatesOf(decoded, cfg)))
      events = tagged(spark, "fold:epoch-label")(Temporal.withTombstoneRunEpochs(
          decoded.filter(col("valid")), "offset", "is_nil"))
        .withColumn("proc_ts", timestamp_seconds(lit(baseEpochSecs) + col("offset")))
        .persist()

      /** Apply all epochs of `evs` (already segment-epoched). */
      def run(evs: DataFrame): State = {
        // epochs PRESENT in the batch, ascending — the run-epoch numbering
        // leaves odd gaps where two tombstone runs are offset-adjacent, so
        // iterating 1..max would pay empty-epoch machinery for nothing.
        // Bounded: <= 2 * (4096-run cap) + 1 rows collected.
        val present = tagged(spark, "fold:epoch-scan") {
          // RDD-level distinct: the projection has no exchange (AQE never
          // engages) and the collect is ONE job — the SQL distinct paid
          // ~3 AQE stage-jobs of scheduling latency per batch for a
          // bounded (<= 2 * run-cap + 1) answer
          evs.select(col("__epoch")).rdd.map(_.getInt(0))
            .distinct(numPartitions = 2).collect().sorted.toSeq
        }
        var st = st0
        for (e <- present) {
          // run epochs are single-sided by construction (odd=refresh,
          // even=tombstone): skip the other side's whole operator chain
          val side = if (e % 2 == 1) RefreshEpoch else TombstoneEpoch
          val casc = applyEpochTracked(st, evs.filter(col("__epoch") === e), cfg, side)
          // truncate lineage: each epoch's state feeds the next, and the
          // checkpointed copies stay valid once the cascade's caches are
          // released below
          // (measured twice: parallelizing these four jobs does NOT help —
          // the per-epoch wall-clock sits in each plan's sequential AQE
          // query stages — and leaving the FINAL epoch's state lazy is a
          // net LOSS: the store write's per-table jobs each replay the
          // merge plan with their own AQE stages, 7+3 jobs becoming 21).
          // MEASURED-stats checkpoints, not plain localCheckpoint: the
          // plain form carries the origin plan's ESTIMATED sizeInBytes
          // into the next round's leaf, and the size-only estimator's
          // product-over-join-children rule then compounds the estimates
          // geometrically across epochs — a 9-tombstone-run batch ended
          // with 41-MILLION-bit BigInt "sizes" and planning (BigInt
          // multiplication inside every stats visit) dominating the fold
          // at 45 s per epoch. See GraftSql.localCheckpointMeasuredStats.
          st = tagged(spark, s"fold:epoch$e-state-checkpoint")(State(
            GraftSql.localCheckpointMeasuredStats(casc.state.assets),
            GraftSql.localCheckpointMeasuredStats(casc.state.teams),
            GraftSql.localCheckpointMeasuredStats(casc.state.owns),
            GraftSql.localCheckpointMeasuredStats(casc.state.parentOf)))
          casc.release()
        }
        st
      }

      if (cfg.strict) {
        tagged(spark, "fold:strict-scan")(firstInvalid(decoded, cfg)) match {
          case Some((off, why)) =>
            // reference parity: everything BEFORE the first bad message is
            // applied, then the stream halts; the sink persists this prefix
            val prefix = run(events.filter(col("offset") < off))
            throw new StrictHaltException(
              s"strict mode: $why at offset $off (valid prefix applied)", off, prefix)
          case None => ()
        }
      }
      run(events)
    } finally {
      // `events` is null only if state load / epoch labeling / persist
      // themselves threw — still release the decoded cache on that path
      if (events != null) events.unpersist()
      decoded.unpersist()
    }
  }

  /** First message (by offset) strict mode must halt on, with the reason:
    * undecodable/unsupported envelopes, or a refresh whose AWS-account
    * annotation cannot be normalized (main.go:254-262). One TakeOrdered
    * action over the decoded batch.
    */
  private def firstInvalid(decoded: DataFrame, cfg: Config): Option[(Long, String)] = {
    val badDecode = decoded.filter(!col("valid"))
      .select(col("offset"), lit("undecodable/unsupported message").as("why"))
    val badAws = awsAnnotations(decoded.filter(col("valid") && !col("is_nil")), cfg, "offset")
      .filter(col("aws_arn").isNull)
      .select(col("offset"),
        concat(lit("invalid AWS account id format: "), col("annotation_value")).as("why"))
    badDecode.unionByName(badAws)
      .orderBy(col("offset")).limit(1).collect()
      .headOption.map(r => (r.getLong(0), r.getString(1)))
  }

  /** Strict-mode halt (reference: the handler error stops the consumer at
    * the FIRST bad message, main.go:254-262 / vulcan_test.go:155-165).
    * `prefix` holds the state after applying every event BEFORE
    * `haltOffset` — the reference keeps prior good output — and the sink
    * persists it before propagating the halt. Extends
    * IllegalArgumentException so sink error mapping classifies it
    * non-retryable (the same message fails identically forever).
    */
  final class StrictHaltException(
      msg: String,
      val haltOffset: Long,
      val prefix: State) extends IllegalArgumentException(msg)

  /** Tag every Spark job started inside `f` with a fold-phase name —
    * free driver-side bookkeeping that makes the per-batch floor
    * attributable (foldbench groups job spans by it, see
    * foldbench/BREAKDOWN.md) and names
    * the fold's stages in the Spark UI on a real cluster.
    */
  private[graft] def tagged[A](spark: SparkSession, tag: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(tag)
    try f finally sc.setJobDescription(prev)
  }

  /** Batch replay from empty state. */
  def replay(
      spark: SparkSession,
      envelopes: DataFrame,
      cfg: Config = Config(),
      baseEpochSecs: Long = 1704067200L /* 2024-01-01T00:00:00Z */): State =
    fold(spark, _ => emptyState(spark), envelopes, cfg, baseEpochSecs)
}
