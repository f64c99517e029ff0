package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.streaming.StateStore

/** `graft-store` — the versioned snapshot store ([[StateStore]]) exposed
  * as a DataSource V2 TABLE, so plain SQL callers get time travel and
  * point lookups with the store's bucket pruning:
  *
  * {{{
  * spark.read.format("graft-store")
  *   .option("path", statePath).option("table", "assets")
  *   .option("version", 3)               // omit => latest committed
  *   .load().where("id = 'a5'")          // reads ONE bucket dir, not 32
  * }}}
  *
  * Planning resolves the requested version's manifest to bucket
  * directories (pointer-chased, so untouched buckets read from the
  * version that last wrote them — the shadow-paging contract). An
  * equality/IN filter on the table's bucket column prunes to exactly the
  * buckets those keys hash into ([[SupportsPushDownFilters]]) — the SQL
  * face of [[StateStore.readPartialLatest]]'s O(batch) point-lookup
  * guarantee; Spark still applies the filter row-level post-scan (bucket
  * pruning is partition-level, a bucket holds other keys too). Column
  * pruning ([[SupportsPushDownRequiredColumns]]) narrows the read to the
  * requested parquet columns.
  *
  * The source only plans; Spark reads. Planning lists the kept bucket
  * dirs once and hands each parquet file to Spark's own
  * `ParquetPartitionReaderFactory` as one input partition, so every column
  * type Spark's parquet reader knows reads here too (maps, structs,
  * decimals, binary, dates, nested arrays), columnar batches feed
  * whole-stage codegen, and files written under an older (subset) schema
  * null-fill the columns added since. A bare COUNT(*) is answered by the
  * same factory from parquet footers. At cluster scale the same plan
  * shape holds — partitions are files, pruning happens before any task
  * launches, and no executor ever lists the store.
  */
object StoreTable {
  val ShortName = "graft-store"

  private[sources] def plan(options: CaseInsensitiveStringMap): StateStore.ScanPlan = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-store requires option 'path'"))
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException(
        "graft-store requires option 'table' (a graph table — assets, teams, " +
          "owns, parent_of — or any table the store's manifest records)"))
    val version = Option(options.get("version")).map(_.toLong)
    StateStore.planScan(SparkSession.active, path, table, version)
  }

  /** The parquet files of one bucket dir; an absent dir has none. */
  private[sources] def parquetFiles(dir: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** Whole files as one input partition of Spark's file readers. */
  private[sources] def filePartition(index: Int, files: Seq[FileStatus]): FilePartition =
    FilePartition(index, files.map(s => PartitionedFile(InternalRow.empty,
      SparkPath.fromFileStatus(s), 0L, s.getLen, Array.empty[String],
      s.getModificationTime, s.getLen)).toArray)

  /** Spark's parquet reader over store files of `dataSchema`, emitting
    * `readSchema` (or, with `aggregation`, its footer-answered result).
    * The hadoop conf carries what Spark's own parquet scan sets for its
    * readers, taken from the session's SQL conf.
    */
  private[sources] def readerFactory(dataSchema: StructType, readSchema: StructType,
      filters: Array[Filter], aggregation: Option[Aggregation]): PartitionReaderFactory = {
    val spark = SparkSession.active
    val sqlConf = SQLConf.get
    val hadoopConf = new Configuration(spark.sparkContext.hadoopConfiguration)
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    Seq(SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
        SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
        SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
        SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
      .foreach(e => hadoopConf.set(e.key, String.valueOf(sqlConf.getConf(e))))
    ParquetPartitionReaderFactory(sqlConf,
      spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
      dataSchema, readSchema, new StructType(), filters, aggregation,
      new ParquetOptions(Map.empty[String, String], sqlConf))
  }
}

class StoreTableProvider extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = StoreTable.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StoreTable.plan(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StoreDsTable(new CaseInsensitiveStringMap(properties))
}

class StoreDsTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private lazy val scanPlan = StoreTable.plan(options)
  override def name(): String =
    s"${StoreTable.ShortName}:${options.get("table")}@v${scanPlan.version}"
  override def schema(): StructType = scanPlan.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new StoreScanBuilder(scanPlan)
}

class StoreScanBuilder(plan: StateStore.ScanPlan) extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates {

  private var required: StructType = plan.schema
  private var pushed: Array[Filter] = Array.empty
  private var bucketRestrict: Option[Set[Int]] = None
  private var countPushed: Option[Aggregation] = None

  /** Push a bare COUNT(*) (no grouping, no pushed row filters — a filter
    * would demand row-level evaluation) down to PARQUET FOOTER reads:
    * each bucket file answers from its metadata row count, zero data
    * pages touched — how a row count over a 100 TB store should run.
    * Partial pushdown: each file emits its count, Spark sums.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val ok = agg.groupByExpressions.isEmpty && pushed.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[CountStar]
    if (ok) {
      countPushed = Some(agg)
      required = StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    }
    ok
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    false // per-file partial counts; Spark's final aggregation sums them

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.collect {
      case f @ EqualTo(c, v: String) if c == plan.bucketCol =>
        (f: Filter, Set(v))
      case f @ In(c, vs) if c == plan.bucketCol &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        (f: Filter, vs.map(_.asInstanceOf[String]).toSet)
    }
    if (usable.nonEmpty) {
      bucketRestrict = Some(usable
        .map(_._2.map(v => StateStore.bucketIdFor(v, plan.buckets)))
        .reduce(_ intersect _))
      pushed = usable.map(_._1).toArray
    }
    // every filter is also evaluated post-scan: the pushed ones prune
    // PARTITIONS (bucket dirs), they do not subset rows within a bucket
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(s: StructType): Unit = if (countPushed.isEmpty) required = s
  override def build(): Scan = new StoreScan(plan, required, bucketRestrict, pushed, countPushed)
}

/** Last planned bucket count — a test observability hook: runtime
  * (DPP-injected) filters reach [[StoreScan.filter]] during EXECUTION, so
  * the only faithful way to assert their pruning is to record what
  * `planInputPartitions` actually planned.
  */
private[sources] object StoreScanProbe {
  @volatile var lastPlannedBuckets: Int = -1
}

class StoreScan(plan: StateStore.ScanPlan, required: StructType,
    bucketRestrict: Option[Set[Int]], pushed: Array[Filter],
    countPushed: Option[Aggregation]) extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** The parquet files of the buckets the pushed filters keep, listed
    * once per scan: statistics and partition planning both read it, and
    * a runtime filter only narrows it further.
    */
  private lazy val files: Seq[(Int, FileStatus)] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    plan.bucketDirs.toSeq
      .filter { case (pt, _) => bucketRestrict.forall(_.contains(pt)) }
      .sortBy(_._1)
      .flatMap { case (pt, dir) => StoreTable.parquetFiles(dir, conf).map(pt -> _) }
  }

  /** Real on-disk size of the (restricted) bucket files — without it the
    * optimizer assumes `defaultSizeInBytes` for a DSv2 relation and a
    * small store table can NEVER auto-broadcast; with it, joining a
    * compact snapshot against a corpus plans the broadcast hash join a
    * human would write. Row count = unknown (would need a footer pass).
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val bytes = files.map(_._2.getLen).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  /** Bucket set narrowed further at EXECUTION time by a runtime filter
    * (dynamic "partition" pruning: a broadcast join on the bucket key
    * hands the build side's key values to [[filter]] before partitions
    * are planned — the store's point-lookup pruning driven by a JOIN
    * instead of a literal predicate).
    */
  @volatile private var runtimeRestrict: Option[Set[Int]] = None

  private def effectiveRestrict: Option[Set[Int]] = (bucketRestrict, runtimeRestrict) match {
    case (Some(a), Some(b)) => Some(a intersect b)
    case (a, b) => a.orElse(b)
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // composite-keyed tables expose no runtime-filter attribute: their
    // bucket hash spans all key columns (see StateStore.planScan)
    if (plan.bucketCol.isEmpty) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column(plan.bucketCol))

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case EqualTo(c, v: String) if c == plan.bucketCol => Set(v)
      case In(c, vs) if c == plan.bucketCol && vs.forall(_.isInstanceOf[String]) =>
        vs.map(_.asInstanceOf[String]).toSet
    }
    if (sets.nonEmpty)
      runtimeRestrict = Some(sets
        .map(_.map(v => StateStore.bucketIdFor(v, plan.buckets)))
        .reduce(_ intersect _))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val kept = effectiveRestrict.map(_.size).getOrElse(plan.bucketDirs.size)
    val mode = if (countPushed.isDefined) ", count=footers" else ""
    s"StoreScan(v${plan.version}, buckets=$kept/${plan.bucketDirs.size}$mode)"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val restrict = effectiveRestrict
    StoreScanProbe.lastPlannedBuckets =
      plan.bucketDirs.keys.count(pt => restrict.forall(_.contains(pt)))
    files.filter { case (pt, _) => restrict.forall(_.contains(pt)) }
      .zipWithIndex
      .map { case ((_, f), i) => StoreTable.filePartition(i, Seq(f)): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    StoreTable.readerFactory(plan.schema, required, pushed, countPushed)
}
