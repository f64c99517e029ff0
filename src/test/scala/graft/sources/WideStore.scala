package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.streaming.{StateStore, TableStore}

/** A TableStore root whose tables hold the column types beyond strings,
  * numbers and timestamps: map, struct, date, binary, decimal and
  * array of struct. v0 is a full write of twelve rows; v1 updates row 3
  * and deletes row 7. `wide` holds every type; `flat` is the same without
  * the map column, for reads that group on every column (Spark cannot
  * group on a map).
  */
object WideStore {

  def write(spark: SparkSession, root: String): Unit = {
    import spark.implicits._
    def rows(ids: Seq[Long], tag: String): DataFrame = ids.toDF("id").selectExpr(
      "id",
      s"map('k', concat('$tag', id)) AS m",
      s"named_struct('name', concat('$tag', id), 'n', CAST(id AS INT)) AS s",
      "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d",
      s"CAST(concat('$tag', id) AS BINARY) AS b",
      s"CAST(id * ${if (tag == "v0") "1.25" else "2.5"} AS DECIMAL(10,2)) AS amt",
      s"array(named_struct('tag', '$tag', 'w', CAST(id AS INT))) AS tags")
    def both(df: DataFrame): Map[String, DataFrame] = Map("wide" -> df, "flat" -> df.drop("m"))
    val specs = Seq("wide", "flat").map(TableStore.Spec(_, Seq("id")))
    val cfg = StateStore.Config(buckets = 4)
    TableStore.write(spark, root, 0L, specs, both(rows(0L until 12L, "v0")), cfg = cfg)
    val gone = Seq(7L).toDF("id")
    TableStore.write(spark, root, 1L, specs, both(rows(Seq(3L), "v1")), delta = true,
      cfg = cfg, deletes = Map("wide" -> gone, "flat" -> gone))
  }

  /** A frame's rows as a multiset of comparable values (binary as bytes). */
  def bag(df: DataFrame): Map[Any, Int] = {
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case r: Row => r.toSeq.map(norm)
      case s: scala.collection.Seq[_] => s.map(norm)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }
      case other => other
    }
    df.collect().toSeq.map(norm).groupBy(identity).view.mapValues(_.size).toMap
  }
}
