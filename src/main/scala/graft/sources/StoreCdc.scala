package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.StateStore

/** `graft-store-cdc` — the versioned store's CHANGE FEED as a DataSource
  * V2 micro-batch stream: every newly committed version becomes a
  * micro-batch of its row-level changes, the streaming face of
  * [[StateStore.diffVersions]] (batch) and `Inventory.changesSince`
  * (REST paging):
  *
  * {{{
  * spark.readStream.format("graft-store-cdc")
  *   .option("path", statePath).option("table", "assets")
  *   .option("startingVersion", -1)   // -1 = genesis; omit = only future versions
  *   .load()                          // table columns + change STRING + version BIGINT
  * }}}
  *
  * Offsets are committed version numbers, checkpointed by the engine, so
  * a restarted stream resumes at the exact version it left off.
  * Planning is manifest-pruned like the batch diff: a bucket whose
  * pointer is unchanged between two versions is byte-identical by shadow
  * paging and is never read — per-version read I/O is bounded by that
  * version's WRITE I/O, not by state size. Each input partition diffs
  * ONE changed bucket (old multiset vs new, `exceptAll` semantics —
  * an update appears as its removed old row plus its added new row);
  * a bucket fits a task by the store's own sizing contract. Planning
  * lists the bucket's old and new files on the driver; the task reads
  * them through Spark's own parquet reader (the one `graft-store` uses,
  * so the feed carries every column type a table can hold) and keeps
  * only the diff. The base
  * version must still be committed — a pruned base fails loudly instead
  * of silently skipping changes (the changesSince retention contract).
  *
  * **Across a rebucket** (a `TableStore.rebucket` growth transition —
  * modulus change, always a full write) the stream does NOT stop: the
  * rebucket version arrives as a one-time O(table) change batch, exact
  * as a multiset delta but non-minimal — a row that only moved buckets
  * appears as a (removed, added) pair of identical rows, the same shape
  * an update already has, so a consumer that applies removes-then-adds
  * per batch nets it out (proof + pin: [[StateStore.planCdc]],
  * StoreCdcSpec's across-rebucket leg). Deltas resume bucket-pruned at
  * the new modulus from the next version on.
  */
object StoreCdc {
  val ShortName = "graft-store-cdc"

  def withChangeCols(base: StructType): StructType =
    StructType(base.fields.toSeq ++ Seq(
      StructField("change", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))

  /** CDC row schema, bound to the store's LATEST committed schema at
    * stream construction: versions written under an older (subset) schema
    * null-fill the added columns; a version evolving BEYOND the bound
    * schema mid-stream fails loudly in planning (see
    * [[StateStore.planCdc]]) — restart the stream to re-bind.
    */
  def schemaFor(spark: SparkSession, path: String, table: String): StructType =
    withChangeCols(StateStore.latestSchema(spark, path, table))
}

class StoreCdcProvider extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = StoreCdc.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StoreCdc.schemaFor(SparkSession.active,
      Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException("graft-store-cdc requires option 'path'")),
      Option(options.get("table")).getOrElse(
        throw new IllegalArgumentException("graft-store-cdc requires option 'table'")))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StoreCdcTable(new CaseInsensitiveStringMap(properties))
}

class StoreCdcTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("graft-store-cdc requires option 'path'"))
  private val table = Option(options.get("table")).getOrElse(
    throw new IllegalArgumentException("graft-store-cdc requires option 'table'"))

  // bound ONCE at table construction: the stream's row schema for its
  // whole lifetime (the checkpoint pins it across restarts of this query)
  private val baseSchema = StateStore.latestSchema(SparkSession.active, path, table)

  override def name(): String = s"${StoreCdc.ShortName}:$table@$path"
  override def schema(): StructType = StoreCdc.withChangeCols(baseSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = StoreCdc.withChangeCols(baseSchema)
        override def description(): String = s"StoreCdcScan($table)"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new StoreCdcStream(path, table, baseSchema,
            Option(opts.get("startingVersion")).map(_.toLong),
            Option(opts.get("maxVersionsPerTrigger")).map(_.toInt))
      }
    }
}

/** Offset = highest committed version whose changes have been emitted. */
case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

class StoreCdcStream(path: String, table: String, baseSchema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Int] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def spark = SparkSession.active
  // head/pending probes, never the whole chain: each trigger's manifest
  // I/O is bounded by the versions it will actually emit, so a stream
  // over a long-lived store pays O(pending) per trigger, not O(history)
  private def head: Option[Long] = StateStore.latestCommitted(spark, path)

  /** No explicit start => only versions committed AFTER the stream first
    * starts (the checkpoint then pins this choice forever).
    */
  override def initialOffset(): Offset =
    VersionOffset(startingVersion.getOrElse(head.getOrElse(-1L)))

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** Admission control in VERSION units: a genesis catch-up over a long
    * chain should not diff the whole history in one giant micro-batch —
    * `maxVersionsPerTrigger` bounds how many committed versions each
    * batch advances (per-version read I/O is already bounded by that
    * version's write I/O, so versions ARE the right pacing unit here,
    * where Kafka's is rows).
    */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].v
    val pending =
      StateStore.committedVersionsBetween(spark, path, from, Long.MaxValue)
    val capped = maxVersionsPerTrigger.map(pending.take).getOrElse(pending)
    VersionOffset(capped.lastOption.getOrElse(from))
  }

  override def latestOffset(): Offset = {
    val last = head.getOrElse(-1L)
    VersionOffset(math.max(last, startingVersion.getOrElse(-1L)))
  }

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def files(dir: Option[String]): FilePartition =
      StoreTable.filePartition(0, dir.toSeq.flatMap(StoreTable.parquetFiles(_, conf)))
    StateStore.planCdc(spark, path, table,
        start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v,
        streamSchema = Some(baseSchema))
      .map(s => StoreCdcPartition(s.version, files(s.oldDir), files(s.newDir)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new StoreCdcReaderFactory(
    StoreTable.readerFactory(baseSchema, baseSchema, Array.empty, None), baseSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One changed bucket of one version: its files before and after. */
case class StoreCdcPartition(version: Long, oldFiles: FilePartition,
    newFiles: FilePartition) extends InputPartition

/** Diffs one changed bucket, reading both sides through `parquet` (Spark's
  * parquet reader factory) in row mode.
  */
class StoreCdcReaderFactory(parquet: PartitionReaderFactory, schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StoreCdcPartition]
    def tagged(change: String): InternalRow =
      new GenericInternalRow(Array[Any](UTF8String.fromString(change), p.version))
    val (added, removed) = (tagged("added"), tagged("removed"))
    // rows compare by their unsafe bytes, so any column type (maps and
    // binary included) can key the multiset
    val key = UnsafeProjection.create(schema)
    def rows(r: PartitionReader[InternalRow]): Iterator[InternalRow] =
      Iterator.continually(r).takeWhile(_.next()).map(_.get())

    // one changed bucket: old rows into a multiset, new rows matched off
    // against it — leftovers on either side are the exceptAll diff
    val old = scala.collection.mutable.HashMap.empty[UnsafeRow, Int]
    val oldReader = parquet.createReader(p.oldFiles)
    try rows(oldReader).foreach { r =>
      val k = key(r).copy()
      old(k) = old.getOrElse(k, 0) + 1
    } finally oldReader.close()
    val newReader = parquet.createReader(p.newFiles)
    val out: Iterator[InternalRow] = rows(newReader).flatMap { r =>
      val k = key(r)
      old.get(k) match {
        case Some(1) => old.remove(k); None
        case Some(c) => old(k) = c - 1; None
        case None => Some(new JoinedRow(k, added))
      }
    } ++ old.iterator.flatMap { case (k, c) => Iterator.fill(c)(new JoinedRow(k, removed)) }

    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = { val h = out.hasNext; if (h) current = out.next(); h }
      override def get(): InternalRow = current
      override def close(): Unit = newReader.close()
    }
  }
}
