package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The natural keys a fold touched in each snapshot table — the write-side
  * contract that lets the versioned state sink rewrite only the hash
  * partitions a micro-batch actually changed instead of the full snapshot
  * (O(touched buckets) writes, not O(state)).
  *
  * Key columns: assets `(id)`, teams `(identifier)`, owns
  * `(team_id, asset_id)`, parent_of `(parent_id, child_id)`. Supersets are
  * safe (a touched-but-unchanged key only causes an extra partition
  * rewrite); misses are NOT (a changed row outside the declared partitions
  * would silently keep its old value on read).
  */
final case class ChangeSet(
    assets: DataFrame,
    teams: DataFrame,
    owns: DataFrame,
    parentOf: DataFrame) {

  def union(o: ChangeSet): ChangeSet = ChangeSet(
    assets.unionByName(o.assets),
    teams.unionByName(o.teams),
    owns.unionByName(o.owns),
    parentOf.unionByName(o.parentOf))

  /** Eagerly materialize + truncate lineage (the frames are batch-key
    * sized; callers checkpoint before releasing the caches the plans
    * reference) in ONE driver round trip instead of four: all key columns
    * are strings, so the four frames union into a single tagged frame,
    * that union checkpoints once, and the per-table frames re-emerge as
    * lazy filters over the checkpointed rows. The source batch is scanned
    * exactly once and the result survives cache release; on the streaming
    * hot path the three saved round trips are fixed per-micro-batch
    * latency.
    */
  def localCheckpointFused(): ChangeSet = {
    import org.apache.spark.sql.functions.{col, lit}
    val nul = lit(null).cast(StringType)
    val tagged = assets.select(lit("a").as("t"), col("id").as("k1"), nul.as("k2"))
      .unionByName(teams.select(lit("t").as("t"), col("identifier").as("k1"), nul.as("k2")))
      .unionByName(owns.select(lit("o").as("t"), col("team_id").as("k1"),
        col("asset_id").as("k2")))
      .unionByName(parentOf.select(lit("p").as("t"), col("parent_id").as("k1"),
        col("child_id").as("k2")))
      .localCheckpoint(true)
    ChangeSet(
      assets = tagged.filter(col("t") === "a").select(col("k1").as("id")),
      teams = tagged.filter(col("t") === "t").select(col("k1").as("identifier")),
      owns = tagged.filter(col("t") === "o")
        .select(col("k1").as("team_id"), col("k2").as("asset_id")),
      parentOf = tagged.filter(col("t") === "p")
        .select(col("k1").as("parent_id"), col("k2").as("child_id")))
  }
}

object ChangeSet {

  val assetKeySchema: StructType = StructType(Seq(StructField("id", StringType)))
  val teamKeySchema: StructType = StructType(Seq(StructField("identifier", StringType)))
  val ownsKeySchema: StructType = StructType(Seq(
    StructField("team_id", StringType), StructField("asset_id", StringType)))
  val parentOfKeySchema: StructType = StructType(Seq(
    StructField("parent_id", StringType), StructField("child_id", StringType)))

  def empty(spark: SparkSession): ChangeSet = {
    def e(s: StructType) =
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    ChangeSet(e(assetKeySchema), e(teamKeySchema), e(ownsKeySchema), e(parentOfKeySchema))
  }
}
