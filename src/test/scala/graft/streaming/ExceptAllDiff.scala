package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Test-side reference for the store's diff, independent of the
  * per-bucket diff `graft-store-cdc` serves: both versions read in full,
  * then `exceptAll` in each direction, labelled `added` and `removed`.
  * Spark's set operations reject map columns, so tables with one are
  * checked against literal expectations instead.
  */
object ExceptAllDiff {
  def apply(before: DataFrame, after: DataFrame): DataFrame =
    after.exceptAll(before).withColumn("change", lit("added"))
      .unionByName(before.exceptAll(after).withColumn("change", lit("removed")))
}
