package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.GraphOps.State
import graft.streaming.StateStore
import graft.temporal.Temporal

/** The reference's inventory QUERY surface (inventory/inventory.go:149-268
  * URL builders: `asset_type`, `asset_identifier`, `valid_at`,
  * `team_identifier`, `page`/`size` on every list endpoint) as typed
  * DataFrame operations over the snapshot tables — what a consumer of the
  * REST API calls today, re-expressed Spark-first.
  *
  * Filter semantics proven by the reference's tests: identifier matches
  * are EXACT, not prefix (inventory_test.go:299-314); `valid_at` means
  * first_seen <= T < expiration (inventory_test.go:291-298); Size == 0
  * disables pagination (inventory.go:117-120). Every filter is a plain
  * column predicate, so Catalyst pushes it into the snapshot scan.
  */
object Inventory {

  /** page/size; size == 0 disables pagination. */
  final case class Page(page: Int = 0, size: Int = 0)

  private def paged(df: DataFrame, order: Seq[Column], pag: Page): DataFrame =
    Temporal.paginate(df, order, pag.page, pag.size)

  private def opt(c: Column, v: Option[String]): Column =
    v.map(c === _).getOrElse(lit(true))

  /** GET /v1/assets — optional exact type/identifier filters + valid_at. */
  def assets(
      st: State,
      assetType: Option[String] = None,
      identifier: Option[String] = None,
      validAt: Option[java.sql.Timestamp] = None,
      pag: Page = Page()): DataFrame = {
    val alive = validAt.map(t =>
        Temporal.validAt(col("first_seen"), col("expiration"), lit(t)))
      .getOrElse(lit(true))
    paged(
      st.assets.filter(
        opt(col("type"), assetType) && opt(col("identifier"), identifier) && alive),
      Seq(col("id")), pag)
  }

  /** GET /v1/teams — optional exact team-identifier filter. */
  def teams(st: State, identifier: Option[String] = None, pag: Page = Page()): DataFrame =
    paged(st.teams.filter(opt(col("identifier"), identifier)), Seq(col("identifier")), pag)

  /** GET /v1/assets/{id}/owners — owns edges of one asset. */
  def owners(st: State, assetId: String, pag: Page = Page()): DataFrame =
    paged(st.owns.filter(col("asset_id") === assetId),
      Seq(col("team_id")), pag)

  /** GET /v1/assets/{id}/parents — edges where the asset is the child. */
  def parents(st: State, assetId: String, pag: Page = Page()): DataFrame =
    paged(st.parentOf.filter(col("child_id") === assetId),
      Seq(col("parent_id")), pag)

  /** GET /v1/assets/{id}/children — edges where the asset is the parent. */
  def children(st: State, assetId: String, pag: Page = Page()): DataFrame =
    paged(st.parentOf.filter(col("parent_id") === assetId),
      Seq(col("child_id")), pag)

  /** Owners expanded to team rows (the e2e test's read-back join,
    * main_test.go:503-519).
    */
  def ownersWithTeams(st: State, assetId: String): DataFrame =
    GraphOps.owners(st.owns.filter(col("asset_id") === assetId), st.teams)

  /** Store-backed POINT-LOOKUP state: resolve the lookup keys to hash
    * buckets and read ONLY those bucket dirs from the latest committed
    * version — the snapshot-store analog of the reference's per-key index
    * reads (inventory/inventory.go:382-404). Against 100 TB of state this
    * loads O(keys) directories: the asset buckets of `assetIds`, their
    * owner-edge and out-edge buckets, the in-edge buckets discovered
    * through the reverse key index, and the `teamIds` buckets. Every
    * Inventory endpoint then answers from the returned partial state with
    * plain pushed-down predicates.
    *
    * None = no committed version yet. The partial's `paths` bound the read
    * I/O by inspection (see StateStoreSpec).
    */
  def lookup(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      assetIds: Seq[String] = Nil,
      teamIds: Seq[String] = Nil,
      maxVersion: Long = Long.MaxValue,
      store: StateStore.Config = StateStore.Config()): Option[StateStore.Partial] = {
    import spark.implicits._
    StateStore.readPartialLatest(spark, statePath, maxVersion,
      StateStore.Candidates(
        assetIds = assetIds.toDF("id"),
        teamIds = teamIds.toDF("identifier"),
        ownsAssetIds = assetIds.toDF("asset_id"),
        parentIds = assetIds.toDF("parent_id"),
        childIds = assetIds.toDF("child_id"),
        edgeChildIds = Seq.empty[String].toDF("child_id")),
      store)
  }

  /** CDC feed the reference's API cannot offer (the graph keeps no
    * history): every row-level change between a consumer's last-seen
    * committed version and the latest one, per table, labeled
    * added/removed. Manifest-pruned — read I/O is bounded by what the
    * intervening versions WROTE, not by state size
    * ([[StateStore.diffVersions]]), so a frequent poller pays O(its lag).
    *
    * Returns the latest version to resume from plus the diffs; None when
    * nothing is committed past `sinceVersion` (no change, nothing read).
    * Throws (with reseed guidance) when `sinceVersion` has been pruned —
    * the consumer lagged past the writer's retention
    * ([[graft.streaming.StreamIngest.applyBatch]] `keepVersions`), the
    * CDC analog of a Kafka OffsetOutOfRange.
    */
  def changesSince(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      sinceVersion: Long,
      maxVersion: Long = Long.MaxValue): Option[(Long, Seq[StateStore.TableDiff])] =
    StateStore.latestManifest(spark, statePath, maxVersion)
      .filter(_._1 > sinceVersion)
      .map { head =>
        // each manifest is read once per poll and handed to the diff
        val since = StateStore.readManifest(spark, statePath, sinceVersion).getOrElse(
          throw new IllegalArgumentException(
            s"version $sinceVersion is pruned — the consumer's lag exceeded the " +
              s"writer's retention (applyBatch keepVersions). Reseed from a full " +
              s"read of v${head._1}, then resume polling from there."))
        (head._1, StateStore.diffVersions(spark, statePath, sinceVersion -> since, head))
      }
}
