package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.StateStore

/** `graft-store-cdc` — the versioned store's CHANGE FEED, and its only
  * diff. As a DataSource V2 micro-batch stream, every newly committed
  * version becomes a micro-batch of its row-level changes; as a batch
  * read it is the net change over a version range, which
  * [[StateStore.diffVersions]], `TableStore.diff` and
  * `Inventory.changesSince` (REST paging) read through:
  *
  * {{{
  * spark.readStream.format("graft-store-cdc")
  *   .option("path", statePath).option("table", "assets")
  *   .option("startingVersion", -1)   // -1 = genesis; omit = only future versions
  *   .load()                          // table columns + change STRING + version BIGINT
  *
  * spark.read.format("graft-store-cdc")
  *   .option("path", statePath).option("table", "assets")
  *   .option("startingVersion", 3)    // exclusive base; -1 = genesis
  *   .option("endingVersion", 7)      // inclusive end; rows carry version 7
  *   .load()
  * }}}
  *
  * Stream offsets are committed version numbers, checkpointed by the
  * engine, so a restarted stream resumes at the exact version it left
  * off. Both reads plan through [[StateStore.diffSlices]]: a bucket whose
  * pointer is unchanged is byte-identical by shadow paging and is never
  * read, so read I/O is bounded by the versions' WRITE I/O, not by state
  * size. Each input partition diffs ONE slice (old multiset vs new,
  * `exceptAll` semantics — an update appears as its removed old row plus
  * its added new row); with equal moduli a slice is one changed bucket,
  * which fits a task by the store's own sizing contract. Planning lists
  * the slice's old and new files on the driver; the task reads them
  * through Spark's own parquet reader (the one `graft-store` uses, so the
  * feed carries every column type a table can hold) and keeps only the
  * diff. The base version must still be committed — a pruned base fails
  * loudly instead of silently skipping changes (the changesSince
  * retention contract).
  *
  * **Across a rebucket** (a `TableStore.rebucket`, a modulus change) the
  * same rule holds: slices pair bucket residues mod the gcd of the two
  * moduli, so a row that only moved buckets cancels within its slice and
  * the rebucket version's batch is exact and minimal (empty when content
  * did not change). Deltas are bucket-pruned at the new modulus from the
  * next version on.
  */
object StoreCdc {
  val ShortName = "graft-store-cdc"

  def withChangeCols(base: StructType): StructType =
    StructType(base.fields.toSeq ++ Seq(
      StructField("change", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))

  /** One input partition per slice: its old and new bucket files, rows
    * labelled with the slice's version.
    */
  private[sources] def partitions(slices: Seq[(Long, StateStore.DiffSlice)]): Array[InputPartition] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    def files(dirs: Seq[String]): FilePartition =
      StoreTable.filePartition(0, dirs.flatMap(StoreTable.parquetFiles(_, conf)))
    slices.map { case (v, s) =>
      StoreCdcPartition(v, files(s.oldDirs), files(s.newDirs)): InputPartition
    }.toArray
  }

  private[sources] def readerFactory(schema: StructType): PartitionReaderFactory =
    new StoreCdcReaderFactory(StoreTable.readerFactory(schema, schema, Array.empty, None), schema)
}

class StoreCdcProvider extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = StoreCdc.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StoreCdcTable(options).schema()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new StoreCdcTable(new CaseInsensitiveStringMap(properties))
}

class StoreCdcTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("graft-store-cdc requires option 'path'"))
  private val table = Option(options.get("table")).getOrElse(
    throw new IllegalArgumentException("graft-store-cdc requires option 'table'"))
  private val startingVersion = Option(options.get("startingVersion")).map(_.toLong)

  /** A batch read (`endingVersion` set): its end version and slices,
    * planned here so that a refused diff fails at `load()`.
    */
  private val batch: Option[(Long, StructType, Seq[StateStore.DiffSlice])] =
    Option(options.get("endingVersion")).map(_.toLong).map { end =>
      val start = startingVersion.getOrElse(throw new IllegalArgumentException(
        "a graft-store-cdc batch read requires option 'startingVersion' (exclusive; -1 = genesis)"))
      val (schema, slices) = StateStore.planDiff(SparkSession.active, path, table, start, end)
      (end, schema, slices)
    }

  // the row schema, bound ONCE at table construction: a batch read's
  // end-version schema, or a stream's latest committed schema for its
  // whole lifetime (the checkpoint pins it across restarts of the query;
  // versions written under an older, subset schema null-fill the added
  // columns, and a version evolving beyond it fails in planning)
  private val baseSchema = batch.fold(
    StateStore.latestSchema(SparkSession.active, path, table))(_._2)

  override def name(): String = s"${StoreCdc.ShortName}:$table@$path"
  override def schema(): StructType = StoreCdc.withChangeCols(baseSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = StoreCdc.withChangeCols(baseSchema)
        override def description(): String = s"StoreCdcScan($table)"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          require(batch.isEmpty, "graft-store-cdc: 'endingVersion' bounds a batch read; a stream has no end")
          new StoreCdcStream(path, table, baseSchema, startingVersion,
            Option(opts.get("maxVersionsPerTrigger")).map(_.toInt))
        }
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = {
          val (end, _, slices) = batch.getOrElse(throw new IllegalArgumentException(
            "a graft-store-cdc batch read requires option 'endingVersion' (inclusive)"))
          StoreCdc.partitions(slices.map(end -> _))
        }
        override def createReaderFactory(): PartitionReaderFactory =
          StoreCdc.readerFactory(baseSchema)
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

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    StoreCdc.partitions(StateStore.planCdc(spark, path, table,
      start.asInstanceOf[VersionOffset].v, end.asInstanceOf[VersionOffset].v,
      streamSchema = Some(baseSchema)))

  override def createReaderFactory(): PartitionReaderFactory =
    StoreCdc.readerFactory(baseSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One diff slice of one version: its files before and after. */
case class StoreCdcPartition(version: Long, oldFiles: FilePartition,
    newFiles: FilePartition) extends InputPartition

/** Diffs one slice, reading both sides through `parquet` (Spark's
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

    // one slice: old rows into a multiset, new rows matched off
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
