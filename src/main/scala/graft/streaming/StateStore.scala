package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}
import graft.graph.GraphOps.State
import graft.schema.Schemas
import scala.util.control.NonFatal

/** Versioned, hash-partitioned snapshot store for the four graph tables —
  * the streaming sink's answer to write amplification (reference sink:
  * a remote graph API, inventory/inventory.go; here: parquet snapshots).
  *
  * Layout: `statePath/v<batchId>/d-<token>/<table>/pt=<bucket>/...parquet`
  * (the `d-<token>` segment is writer-unique and recorded in the manifest,
  * so racing writers can never touch each other's data paths; pre-token
  * stores without the segment keep reading) plus a `MANIFEST` file per
  * version mapping every live `(table, bucket)` to the VERSION whose files
  * hold its current rows. A micro-batch rewrites ONLY
  * the buckets its partial read loaded ([[readPartialLatest]]) —
  * untouched buckets stay as pointers into earlier versions — so
  * per-batch write I/O is O(loaded buckets), not O(state).
  *
  * This is shadow paging, not an LSM: every bucket is always exactly ONE
  * complete directory (a write rewrites the whole bucket), so reads are
  * one dir per bucket regardless of chain length and no compaction is
  * ever needed. Storage is reclaimed at BUCKET granularity instead:
  * [[prune]] deletes superseded `pt=` dirs the surviving manifests no
  * longer reference (and then empty version dirs), bounding live data to
  * one copy per bucket per surviving manifest — write cost stays
  * O(touched buckets) with no periodic O(state) rewrite (the round-3
  * `maxChain` full-snapshot compaction is gone). A touched bucket is
  * rewritten whole, so that is not O(batch): a 50-event trigger stages
  * 228 KB of a 586 KB store.
  *
  * Bucket keys are chosen for the pipeline's POINT-LOOKUP patterns, not
  * just the merge keys (reference: per-key index lookups,
  * inventory/inventory.go:382-404):
  *   - assets by `id`, teams by `identifier` (the natural keys);
  *   - owns by `asset_id` ALONE — co-locates every owner edge of an asset,
  *     so the C7 active-owner quantifier and tombstone expiry prune to the
  *     tombstoned assets' buckets;
  *   - parent_of by `parent_id` (out-edge adjacency), plus a slim
  *     APPEND-ONLY reverse key index `parent_of_idx(child_id, parent_id)`
  *     bucketed by `child_id` for in-edge discovery: the cascade's
  *     child-direction join first reads the index buckets of the candidate
  *     children, learns the parent ids, and loads exactly those parent
  *     buckets. Edges are never deleted (expiry is an update), so the
  *     index only ever grows by the batch's inserted edge keys.
  *
  * Determinism/idempotence: a redelivered batchId reads the same
  * predecessor manifest, loads the same buckets, stages the
  * same rows and arrives at the same MANIFEST — pointers AND per-bucket
  * content signatures — so the commit accepts it idempotently, while a
  * DIFFERENT fold racing the same version loses retryably even when it
  * touched the same buckets. At-least-once delivery yields exactly-once
  * state. The MANIFEST is written LAST with a terminator line: a version
  * without a complete manifest is an uncommitted crash remnant and is
  * never read.
  *
  * There is one write path: [[write]] (the graph tables, rewriting the
  * buckets its partial state loaded) and [[TableStore.write]] (any table
  * set, elected from delta and delete frames) only decide which buckets
  * each table rewrites and with which rows; [[stageAndCommit]] stages,
  * signs and commits for both, and refuses a staging whose rows land in
  * buckets the table did not declare.
  */
object StateStore {

  /** @param buckets hash-partition count per table. Sized so one bucket of
    *                the LARGEST table fits an executor's write task
    *                comfortably; at cluster scale this is thousands, here
    *                32 matches local parallelism. The count is recorded in
    *                every manifest and an incremental write against a
    *                predecessor with a DIFFERENT count is refused — the
    *                inherited pointers would be bucketed under the old
    *                modulus (rebucket via a full write instead).
    *
    * A manifest appears at its final path only whole: the commit writes
    * it to a writer-unique tmp and publishes it in one atomic no-replace
    * step, `link(2)` on `file://` and no-replace `rename` on HDFS
    * ([[publishManifestAtomic]]).
    */
  final case class Config(buckets: Int = 32)

  /** How long a terminator-less file at a manifest's final path is
    * refused before the commit deletes it and publishes over it. Only a
    * writer that predates the atomic publish can leave one, and a fresh
    * one may still be such a writer mid-create; a healthy manifest write
    * takes milliseconds, and 60 s dominates writer-vs-filesystem clock
    * skew.
    */
  val RemnantGraceMs = 60000L

  private final case class TableSpec(name: String, schema: StructType,
      /** columns whose hash places a row in its bucket — a deterministic
        * function of the natural key */
      bucketCols: Seq[String])

  private val tables = Seq(
    TableSpec("assets", Schemas.assetSchema, Seq("id")),
    TableSpec("teams", Schemas.teamSchema, Seq("identifier")),
    TableSpec("owns", Schemas.ownsSchema, Seq("asset_id")),
    TableSpec("parent_of", Schemas.parentOfSchema, Seq("parent_id")))

  /** Reverse in-edge key index (see class doc). Not part of [[State]] —
    * store-internal, used only for pruned child-direction discovery.
    */
  private val idxTable = TableSpec("parent_of_idx",
    StructType(Seq(StructField("child_id", StringType), StructField("parent_id", StringType))),
    Seq("child_id"))

  private def tableOf(st: State, name: String): DataFrame = name match {
    case "assets" => st.assets
    case "teams" => st.teams
    case "owns" => st.owns
    case "parent_of" => st.parentOf
  }

  /** Murmur3 bucket of a table's bucket columns — deterministic across
    * runs and engine versions (Spark's `hash` is seed-42 Murmur3).
    */
  private[graft] def bucket(keys: Seq[String], buckets: Int): Column =
    pmod(hash(keys.map(col): _*), lit(buckets))

  /** Rows whose `pt` bucket is one of `buckets` — the touched-bucket
    * filter of an incremental write. The set rides as ONE array literal,
    * which generated code reads through a reference instead of inlining
    * (an `isin` list is inlined value by value, or as an `InSet` switch),
    * so the staging write compiles to the same classes whichever buckets
    * a trigger touches, and a warm trigger finds them in the codegen cache.
    */
  private[streaming] def inBuckets(buckets: Set[Int]): Column =
    array_contains(typedLit(buckets.toSeq.sorted), col("pt"))

  // --- manifest ------------------------------------------------------------

  /** table -> bucket -> version holding that bucket's files */
  type Pointers = Map[String, Map[Int, Long]]

  /** A committed version's manifest: the bucket modulus it was written
    * under, the live bucket pointers (including `parent_of_idx`), and the
    * SCHEMA each table was written under at this version (absent for
    * pre-evolution manifests → the canonical schema). Reads resolve a
    * version's rows through ITS recorded schema, so `VERSION AS OF`
    * returns each version's own shape and inherited buckets written under
    * an older (subset) schema null-fill the added columns.
    */
  final case class Manifest(buckets: Int, pointers: Pointers,
      schemas: Map[String, StructType] = Map.empty,
      /** version -> writer-unique data dir name under `v<version>/` for
        * every version the pointers reference (recorded as `dir:` lines).
        * Absent entries resolve to the legacy flat `v<version>/<table>`
        * layout, so pre-token stores keep reading.
        */
      dirs: Map[Long, String] = Map.empty,
      /** table -> its bucket-key columns (recorded as `key:` lines for
        * generic [[TableStore]] tables, making their stores
        * SELF-DESCRIBING: the DSv2/catalog read path resolves any table
        * from its manifest alone). Absent for the graph tables — their
        * keys are canonical ([[tables]]), and omitting them keeps graph
        * manifests byte-stable across this evolution.
        */
      keys: Map[String, Seq[String]] = Map.empty,
      /** table -> (pt -> content signature) for buckets WRITTEN at this
        * version (recorded as `sig:` lines): an order-independent sum of
        * per-row hashes over the staged parquet. The commit CAS compares
        * these — pointer maps alone cannot tell a deterministic
        * REDELIVERY (same content, must succeed idempotently) from a
        * DIFFERENT fold that raced the same version and happened to touch
        * the same bucket set (a silent lost update without this line).
        * Absent in manifests written before their store recorded
        * signatures (older generic stores, and graph stores before the
        * graph tables shared the signed write path) — those fall back to
        * pointer-only comparison.
        */
      sigs: Map[String, Map[Int, Long]] = Map.empty) {
    def schemaOf(table: String): StructType =
      schemas.getOrElse(table,
        (tables :+ idxTable).find(_.name == table).map(_.schema).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$table'")))
    /** The table's bucket-key columns — manifest-recorded, else canonical. */
    def keyColsOf(table: String): Option[Seq[String]] =
      keys.get(table).orElse(
        (tables :+ idxTable).find(_.name == table).map(_.bucketCols))
  }

  /** Another writer won the commit race (the version's manifest already
    * exists with different content, or the committed head moved past the
    * predecessor this write was computed against). RETRYABLE by contract
    * ([[StreamIngest.isRetryable]] returns true): re-read the new head
    * and re-run the fold — the store itself is uncorrupted, the losing
    * attempt's data dirs are superseded or will be pruned.
    */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  /** A manifest that claims to be committed (END terminator present) but
    * fails its integrity check — bit rot, torn overwrite, or hand
    * editing. NOT retryable and never silently skipped: skipping would
    * resurrect the previous version's rows for this version's buckets.
    * (A manifest with NO terminator stays a silent skip — that is the
    * documented crash-during-commit remnant, not corruption.)
    */
  final class CorruptManifestException(msg: String) extends RuntimeException(msg)

  private[streaming] def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(statePath: String, version: Long) =
    new Path(s"$statePath/v$version/MANIFEST")

  /** Resolved directory of `table`'s files WRITTEN AT version `v`:
    * versions committed with a writer-unique dir token nest under
    * `v<v>/<token>/`, so two writers racing one version can never touch
    * each other's data paths (the manifest CAS then picks whose dirs are
    * live); manifests without a recorded token (pre-token stores) resolve
    * to the legacy flat layout.
    */
  private[streaming] def tableDataDir(statePath: String, dirs: Map[Long, String],
      v: Long, table: String): String =
    dirs.get(v).map(d => s"$statePath/v$v/$d/$table")
      .getOrElse(s"$statePath/v$v/$table")

  /** Plain-text manifest: `buckets=N`, one `table pt version` line per
    * live bucket, a `crc=<crc32 hex>` integrity line over everything
    * above it, then the `END` terminator (a file without END is an
    * uncommitted remnant).
    */
  private[streaming] def renderManifest(cfg: Config, pointers: Pointers,
      schemas: Map[String, StructType], dirs: Map[Long, String],
      keys: Map[String, Seq[String]],
      sigs: Map[String, Map[Int, Long]]): String = {
    val body = manifestBody(cfg, pointers, schemas, dirs, keys, sigs)
    body + s"crc=${crcOf(body)}\nEND\n"
  }

  private def manifestBody(cfg: Config, pointers: Pointers,
      schemas: Map[String, StructType], dirs: Map[Long, String],
      keys: Map[String, Seq[String]],
      sigs: Map[String, Map[Int, Long]]): String = {
    val sb = new StringBuilder
    sb.append(s"buckets=${cfg.buckets}\n")
    for ((v, d) <- dirs.toSeq.sortBy(_._1))
      sb.append(s"dir:$v=$d\n")
    // content signatures of the buckets this version writes — the CAS's
    // same-content evidence (see [[Manifest.sigs]])
    for ((t, m) <- sigs.toSeq.sortBy(_._1); (pt, sg) <- m.toSeq.sorted)
      sb.append(s"sig:$t,$pt=$sg\n")
    // key columns: recorded ONLY for tables without canonical graph keys
    // (generic TableStore tables) — the manifest is their only authority,
    // and graph manifests stay byte-stable across this evolution
    for ((t, ks) <- keys.toSeq.sortBy(_._1)
         if !(tables :+ idxTable).exists(_.name == t))
      sb.append(s"key:$t=${ks.mkString(",")}\n")
    // StructType.json is single-line; only schemas that DIFFER from the
    // canonical shape are recorded, so pre-evolution manifests stay
    // byte-stable (and redelivery equality with them keeps holding).
    // Tables WITHOUT a canonical graph schema (generic TableStore
    // tables) always record theirs — the manifest is their only schema
    // authority.
    for ((t, sc) <- schemas.toSeq.sortBy(_._1)
         if !tables.exists(_.name == t) || sc != tableSchema(t))
      sb.append(s"schema:$t=${sc.json}\n")
    for ((t, m) <- pointers.toSeq.sortBy(_._1); (pt, v) <- m.toSeq.sorted)
      sb.append(s"$t $pt $v\n")
    sb.toString
  }

  private def crcOf(body: String): String = {
    val c = new java.util.zip.CRC32
    c.update(body.getBytes("UTF-8"))
    f"${c.getValue}%08x"
  }

  /** Atomic no-replace manifest publication: write the COMPLETE manifest
    * to a writer-unique tmp, then publish in one atomic operation —
    * `Files.createLink` (POSIX `link(2)`, fails EEXIST atomically) on a
    * local filesystem, no-replace `rename` on HDFS. Returns false when
    * the destination already exists (lost the publish race — the caller
    * re-classifies the winner). The tmp is removed on every path, a
    * failed write or publish included; a crash between write and publish
    * leaves only a small dot-tmp inside the version dir, reclaimed with
    * the dir when prune passes it.
    */
  private def publishManifestAtomic(spark: SparkSession, statePath: String,
      version: Long, text: String): Boolean = {
    val (fs, _) = fsFor(spark, statePath)
    val dst = manifestPath(statePath, version)
    val bytes = text.getBytes("UTF-8")
    val tmp = new Path(dst.getParent,
      s".MANIFEST.tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val scheme = Option(dst.toUri.getScheme).getOrElse(fs.getScheme)
    if (scheme == "file") {
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      val dstNio = java.nio.file.Paths.get(dst.toUri.getPath)
      java.nio.file.Files.createDirectories(dstNio.getParent)
      try {
        java.nio.file.Files.write(tmpNio, bytes)
        try { java.nio.file.Files.createLink(dstNio, tmpNio); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } finally java.nio.file.Files.deleteIfExists(tmpNio): Unit
    } else {
      fs.mkdirs(dst.getParent)
      try {
        val out = fs.create(tmp, false)
        try out.write(bytes) finally out.close()
        try fs.rename(tmp, dst)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      } finally fs.delete(tmp, false): Unit
    }
  }

  def readManifest(spark: SparkSession, statePath: String, version: Long): Option[Manifest] =
    lent.get.get((statePath, version)).orElse(readManifestFile(spark, statePath, version))

  /** The committed manifest of `version`; throws when there is none. */
  private[graft] def manifestAt(spark: SparkSession, statePath: String,
      version: Long): Manifest =
    readManifest(spark, statePath, version).getOrElse(
      throw new IllegalStateException(s"no committed manifest for v$version under $statePath"))

  /** Manifests a caller already holds, lent to [[readManifest]] on this
    * thread while [[readDiff]] builds a read through the
    * `graft-store-cdc` format, whose planning looks manifests up by path
    * and version: a diff reads each manifest once, however many tables it
    * covers.
    */
  private val lent = ThreadLocal.withInitial[Map[(String, Long), Manifest]](() => Map.empty)

  private def readManifestFile(spark: SparkSession, statePath: String,
      version: Long): Option[Manifest] = {
    val (fs, _) = fsFor(spark, statePath)
    val p = manifestPath(statePath, version)
    if (!fs.exists(p)) return None
    // a checksum failure here can be a READ-WRITE RACE, not rot: on
    // ChecksumFileSystem the .crc sidecar lands alongside the data, so a
    // reader overlapping an in-flight manifest write (the CAS window —
    // surfaced by StoreConcurrencySpec's multi-writer soak) sees a
    // transient mismatch. Re-read briefly; only a PERSISTENT failure is
    // corruption and stays loud — silently skipping would resurrect the
    // previous version's rows.
    var text: String = null
    var attempt = 0
    while (text == null) {
      val in = fs.open(p)
      try text = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempt += 1
          if (attempt >= 5) throw new CorruptManifestException(
            s"manifest $p: filesystem checksum failure after $attempt reads: ${e.getMessage}")
          Thread.sleep(50L * attempt)
      } finally in.close()
    }
    val lines = text.split("\n").toSeq
    if (!lines.contains("END")) return None // crash-during-commit remnant
    // the manifest CLAIMS committed from here on: any integrity failure is
    // loud — silently skipping would resurrect the previous version's rows
    def corrupt(why: String): Nothing =
      throw new CorruptManifestException(s"manifest $p: $why")
    // the crc line is located by LINE position, not a raw indexOf: a
    // recorded schema's json (field names, metadata) may legitimately
    // contain the substring "crc=" mid-line, which must not truncate the
    // covered body and fake a corruption
    val crcIdx = lines.indexWhere(_.startsWith("crc="))
    if (crcIdx >= 0) {
      val stored = lines(crcIdx).stripPrefix("crc=")
      val body = lines.take(crcIdx).map(_ + "\n").mkString
      if (crcOf(body) != stored)
        corrupt(s"crc mismatch (stored=$stored, computed=${crcOf(body)})")
    }
    val buckets = lines.collectFirst {
      case l if l.startsWith("buckets=") => l.stripPrefix("buckets=").toInt
    }.getOrElse(corrupt("no buckets= line"))
    val schemas = lines
      .filter(_.startsWith("schema:"))
      .map { l =>
        val eq = l.indexOf('=')
        if (eq < 0) corrupt(s"malformed schema line '$l'")
        val t = l.substring("schema:".length, eq)
        val sc = try DataType.fromJson(l.substring(eq + 1)) catch {
          case _: Throwable => corrupt(s"unparseable schema json for '$t'")
        }
        sc match {
          case st: StructType => t -> st
          case _ => corrupt(s"schema for '$t' is not a struct")
        }
      }.toMap
    val dirs = lines
      .filter(_.startsWith("dir:"))
      .map { l =>
        val eq = l.indexOf('=')
        if (eq < 0) corrupt(s"malformed dir line '$l'")
        l.substring("dir:".length, eq).toLongOption
          .getOrElse(corrupt(s"bad version in dir line '$l'")) -> l.substring(eq + 1)
      }.toMap
    val keys = lines
      .filter(_.startsWith("key:"))
      .map { l =>
        val eq = l.indexOf('=')
        if (eq < 0) corrupt(s"malformed key line '$l'")
        val cols = l.substring(eq + 1).split(",").toSeq.filter(_.nonEmpty)
        if (cols.isEmpty) corrupt(s"empty key column list in '$l'")
        l.substring("key:".length, eq) -> cols
      }.toMap
    val sigs = lines
      .filter(_.startsWith("sig:"))
      .map { l =>
        val eq = l.indexOf('=')
        val cm = l.indexOf(',')
        if (eq < 0 || cm < 0 || cm > eq) corrupt(s"malformed sig line '$l'")
        (l.substring("sig:".length, cm),
          l.substring(cm + 1, eq).toIntOption
            .getOrElse(corrupt(s"bad bucket id in sig line '$l'")),
          l.substring(eq + 1).toLongOption
            .getOrElse(corrupt(s"bad signature in sig line '$l'")))
      }
      .groupBy(_._1).map { case (t, es) =>
        t -> es.map(e => e._2 -> e._3).toMap
      }
    val entries = lines
      .filter(l => l.nonEmpty && l != "END" && !l.startsWith("buckets=") &&
        !l.startsWith("crc=") && !l.startsWith("schema:") && !l.startsWith("dir:") &&
        !l.startsWith("key:") && !l.startsWith("sig:"))
      .map { l =>
        l.split(" ") match {
          case Array(t, pt, v) =>
            (t, pt.toIntOption.getOrElse(corrupt(s"bad bucket id in '$l'")),
              v.toLongOption.getOrElse(corrupt(s"bad version in '$l'")))
          case _ => corrupt(s"malformed pointer line '$l'")
        }
      }
    Some(Manifest(buckets, entries.groupBy(_._1).map { case (t, es) =>
      t -> es.map(e => e._2 -> e._3).toMap
    }, schemas, dirs, keys, sigs))
  }

  /** Committed (manifest-complete) versions <= maxVersion, ascending.
    * Reads EVERY candidate's manifest — callers that only need the head
    * use [[latestCommitted]] instead (O(1) manifest reads vs O(chain)).
    */
  def committedVersions(spark: SparkSession, statePath: String, maxVersion: Long): Seq[Long] = {
    val (fs, root) = fsFor(spark, statePath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption)
      .filter(v => v <= maxVersion && fs.exists(manifestPath(statePath, v)))
      .filter(v => readManifest(spark, statePath, v).isDefined)
      .sorted
  }

  /** Highest committed version <= maxVersion — the hot-path form of
    * `committedVersions(...).lastOption`: ONE directory listing, then
    * manifests probed DESCENDING until the first committed one. The full
    * form costs one manifest read per version in the chain, which the
    * streaming fold (one head probe per micro-batch) and the
    * version-revalidated session caches (one per access) would otherwise
    * turn into O(chain) FS reads per operation — quadratic over a
    * long-running stream's life. Crash remnants (terminator-less
    * manifests) are skipped the same way the full form skips them.
    */
  def latestCommitted(spark: SparkSession, statePath: String,
      maxVersion: Long = Long.MaxValue): Option[Long] =
    latestManifest(spark, statePath, maxVersion).map(_._1)

  /** [[latestCommitted]] with the manifest it found. */
  private[graft] def latestManifest(spark: SparkSession, statePath: String,
      maxVersion: Long = Long.MaxValue): Option[(Long, Manifest)] = {
    val (fs, root) = fsFor(spark, statePath)
    if (!fs.exists(root)) return None
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption)
      .filter(_ <= maxVersion)
      .sorted(Ordering[Long].reverse)
      .iterator
      .filter(v => fs.exists(manifestPath(statePath, v)))
      .flatMap(v => readManifest(spark, statePath, v).map(v -> _))
      .nextOption()
  }

  /** Committed versions in (fromExclusive, toInclusive], ascending — the
    * CDC trigger's form: manifest probes bound by the PENDING range, not
    * the whole chain (a long-lived stream's offset rides near the head,
    * so each trigger probes a handful of manifests however long the
    * store's history is).
    */
  def committedVersionsBetween(spark: SparkSession, statePath: String,
      fromExclusive: Long, toInclusive: Long): Seq[Long] =
    committedManifestsBetween(spark, statePath, fromExclusive, toInclusive).map(_._1)

  /** [[committedVersionsBetween]] with their manifests. */
  private def committedManifestsBetween(spark: SparkSession, statePath: String,
      fromExclusive: Long, toInclusive: Long): Seq[(Long, Manifest)] = {
    val (fs, root) = fsFor(spark, statePath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption)
      .filter(v => v > fromExclusive && v <= toInclusive)
      .filter(v => fs.exists(manifestPath(statePath, v)))
      .flatMap(v => readManifest(spark, statePath, v).map(v -> _))
      .sortBy(_._1)
  }

  // --- write ---------------------------------------------------------------

  /** Write state as version `version`. `loaded` is the incremental
    * contract: `None` writes `st` in full; `Some(m)` says `st` holds
    * exactly the complete rows of buckets `m(table)` (a
    * [[readPartialLatest]] view, folded), so each table stages its frame
    * as is, exactly those buckets are rewritten — one that came out empty
    * drops out of the manifest — and every other bucket inherits the
    * predecessor's pointer. `m("parent_of_idx")` names the reverse-index
    * buckets to rewrite: those of the children of edges the fold may have
    * inserted. Returns the written pointers.
    *
    * Stages and commits through [[stageAndCommit]], the one write path it
    * shares with [[TableStore.write]], so the graph tables' manifests
    * carry content signatures like every other store's, and a staged row
    * outside its table's declared buckets fails the write: rewriting a
    * bucket from a frame that does not hold ALL of its rows would
    * silently drop the missing ones.
    */
  def write(spark: SparkSession, statePath: String, version: Long, st: State,
      loaded: Option[Map[String, Set[Int]]], cfg: Config = Config()): Pointers =
    stageAndCommit(spark, statePath, version, cfg, incremental = loaded.nonEmpty) { base =>
      // each version records the schema its state frames carried
      val schemas: Map[String, StructType] =
        tables.map(t => t.name -> tableOf(st, t.name).schema).toMap
      def rewritten(name: String): Set[Int] =
        loaded.fold(Set.empty[Int])(_.getOrElse(name, Set.empty))

      def stageMain(t: TableSpec): Stager = stage => {
        val df = tableOf(st, t.name)
        if (!provablyNoRows(df)) stage(df.withColumn("pt", bucket(t.bucketCols, cfg.buckets)))
        rewritten(t.name)
      }

      // reverse index: a full write projects it from parent_of; an
      // incremental write read-modify-writes the loaded index buckets —
      // their old keys union the partial state's edge keys, distinct. Edge
      // keys never change and edges are never deleted, and every edge the
      // fold inserted has a loaded parent, so no anti-join is needed
      val stageIdx: Stager = stage => {
        val idxKeys = st.parentOf.select(col("child_id"), col("parent_id"))
        val ib = rewritten(idxTable.name)
        base match {
          case None =>
            // checked BEFORE the distinct, whose exchange hides an empty input
            if (!provablyNoRows(idxKeys))
              stage(idxKeys.distinct().withColumn("pt", bucket(idxTable.bucketCols, cfg.buckets)))
          case Some(b) if ib.nonEmpty =>
            val old = readPaths(spark, idxTable.schema, bucketPaths(statePath, b, idxTable.name, Some(ib)))
            stage(old.unionByName(idxKeys).distinct()
              .withColumn("pt", bucket(idxTable.bucketCols, cfg.buckets))
              .filter(inBuckets(ib)))
          case _ => ()
        }
        ib
      }
      (schemas, tables.map(t => t.name -> stageMain(t)) :+ (idxTable.name -> stageIdx))
    }._1

  /** A frame with ZERO partitions (an empty-state placeholder) can't hold
    * a row; skipping its write job is free and makes
    * a sparse write (one populated table of several) cost one table's
    * I/O. Checked on partition COUNT, not a scan — a big table never pays
    * for the probe. A frame with an exchange is probed below it
    * ([[org.apache.spark.sql.GraftSql.provablyNoRows]]): under adaptive
    * execution, asking for the partitions of a shuffled frame runs its
    * shuffle.
    */
  private[streaming] def provablyNoRows(df: DataFrame): Boolean =
    org.apache.spark.sql.GraftSql.provablyNoRows(df)

  /** One table's share of a version, run through [[graft.exec.all]]. It calls
    * `stage` at most once with the rows of the buckets it rewrites (a
    * frame carrying the `pt` bucket column) and returns the buckets it
    * REWROTE against the base manifest; [[stageAndCommit]] points the
    * buckets those rows landed in at this version, drops rewritten
    * buckets that came out empty, and inherits every other base pointer.
    */
  private[streaming] type Stager = (DataFrame => Unit) => Set[Int]

  /** The one staging-and-commit path behind [[write]] (the graph tables)
    * and [[TableStore.write]] (any table set). The core owns every step
    * the callers share:
    *
    *  1. the predecessor manifest read. `base` is that manifest when the
    *     caller asks for an `incremental` write and one exists, else
    *     `None` (a full write, which inherits nothing);
    *  2. the checks an incremental write must pass against `base`: the
    *     same bucket modulus, and a schema that is additive over it;
    *  3. a writer-unique staging dir, into which the `plan`'s stagers —
    *     run concurrently through [[graft.exec.all]] (each staging is
    *     independent, and the commit runs after all complete; a failed
    *     staging cancels the others and the dir is deleted) —
    *     write their rows partitioned by `pt`;
    *  4. the per-bucket stats each staging write observes about itself
    *     (`graft.functions.BucketSig` as an `observe()` metric: content
    *     signature and row count per bucket, no extra job), which name
    *     the buckets written and become the manifest's `sig:` lines;
    *  5. the pointer map, the `dir:` tokens it still references, and the
    *     signed [[commit]].
    *
    * `plan` runs on the caller's thread against `base` and returns the
    * schema of every table the version records plus each table's
    * [[Stager]]. Returns the committed pointers and each staged table's
    * per-bucket (signature, row count).
    */
  private[streaming] def stageAndCommit(spark: SparkSession, statePath: String,
      version: Long, cfg: Config, incremental: Boolean,
      keys: Map[String, Seq[String]] = Map.empty)(
      plan: Option[Manifest] => (Map[String, StructType], Seq[(String, Stager)]))
      : (Pointers, Map[String, Map[Int, (Long, Long)]]) = {
    val prevVersion = latestCommitted(spark, statePath, version - 1)
    val prev = prevVersion.flatMap(v => readManifest(spark, statePath, v))
    val base = prev.filter(_ => incremental)
    base.foreach { pm =>
      require(pm.buckets == cfg.buckets,
        s"bucket count changed (manifest=${pm.buckets}, config=${cfg.buckets}): " +
          "inherited pointers would be bucketed under the old modulus — " +
          "rebucket with a full write instead")
    }
    val (schemas, stagers) = plan(base)
    // schema evolution contract: an INCREMENTAL write must be additive
    // over its predecessor (every inherited field present, same type) —
    // inherited buckets' files then null-fill the added columns under the
    // new read schema. Dropping or retyping a column needs a full write
    // (every bucket rewritten, no old files left behind the new schema).
    base.foreach { pm =>
      for ((t, nw) <- schemas) {
        val missing = pm.schemaOf(t).fields.filterNot(of =>
          nw.fields.exists(nf => nf.name == of.name && nf.dataType == of.dataType))
        require(missing.isEmpty,
          s"incremental write narrows '$t': predecessor fields " +
            s"${missing.map(_.name).mkString(", ")} absent (or retyped) in the new " +
            "schema — inherited buckets would silently disagree with new ones; " +
            "evolve additively, or rewrite every bucket with a full write")
      }
    }

    // data lands in a WRITER-UNIQUE staging dir; commit() moves it under
    // v<version>/ only after the CAS legs pass — a loser detected at
    // commit has never touched the winner's committed dirs (the losing
    // staging dir is deleted; orphans of crashed writers are reclaimed by
    // prune)
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$statePath/.staging-v$version-$token"
    // per-table staged bucket stats: pt -> (content signature, row count).
    // The signature is the order-independent sum of per-row hashes over
    // the rows ACTUALLY written (columns in sorted order, so a
    // deterministic redelivery recomputes the identical value from its
    // own staging): the commit CAS's same-content evidence. Pointer maps
    // alone cannot tell redelivery from a DIFFERENT fold racing the same
    // version onto the same bucket set. Computed as an OBSERVED metric of
    // the staging write itself (graft.functions.BucketSig, BucketSigSpec
    // pins it), so neither a signature read-back nor a written-bucket
    // directory listing costs a pass.
    val stagedStats = scala.collection.concurrent.TrieMap.empty[String, Map[Int, (Long, Long)]]
    val written = scala.collection.concurrent.TrieMap.empty[String, Set[Int]]
    def writeDir(name: String)(df: DataFrame): Unit = {
      // hash functions reject map-typed inputs: sign over the hashable
      // columns only (a table that is ALL maps degrades to the
      // pointer-only comparison instead of refusing schemas the store
      // accepted before signatures existed)
      val dataCols = df.schema.fields
        .filter(f => f.name != "pt" && !containsMap(f.dataType))
        .map(_.name).sorted.toSeq.map(col)
      val obs = new org.apache.spark.sql.Observation(s"stage-$name-$token")
      val metric =
        if (dataCols.isEmpty) collect_set(col("pt")).as("pts")
        else graft.functions.BucketSig(col("pt"), xxhash64(dataCols: _*)).as("sigs")
      df.observe(obs, metric)
        .write.mode("overwrite").partitionBy("pt").parquet(s"$staging/$name")
      written(name) =
        if (dataCols.isEmpty)
          obs.get("pts").asInstanceOf[scala.collection.Seq[Int]].toSet
        else {
          val stats = obs.get("sigs")
            .asInstanceOf[scala.collection.Map[Int, org.apache.spark.sql.Row]]
            .map { case (pt, r) => pt -> ((r.getLong(0), r.getLong(1))) }.toMap
          // zero-bucket stagings record NO sig entry (the manifest writer
          // emits no lines for them, so an in-memory empty map would make a
          // byte-identical redelivery spuriously fail the sig compare — the
          // exact asymmetry live() normalizes for pointers)
          if (stats.nonEmpty) stagedStats(name) = stats
          stats.keySet
        }
    }

    def run(name: String, s: Stager): (String, Map[Int, Long]) = {
      val rewritten = s(writeDir(name))
      // an incremental stager's rows must land in the buckets it rewrites:
      // a row anywhere else would replace a bucket the stager never held
      // whole. Checked on the observed buckets, so it costs no pass; the
      // throw deletes the staging dir, and no manifest is written
      val stray = written.getOrElse(name, Set.empty[Int]).diff(rewritten)
      require(base.isEmpty || stray.isEmpty,
        s"incremental write of '$name' staged rows in buckets " +
          s"${stray.toSeq.sorted.mkString(",")}, which it does not rewrite — " +
          "the frame cannot hold their full contents")
      val inherited = base.fold(Map.empty[Int, Long])(_.pointers.getOrElse(name, Map.empty))
      name -> ((inherited -- rewritten) ++
        written.getOrElse(name, Set.empty[Int]).map(_ -> version))
    }
    val pointers: Pointers =
      try graft.exec.all(spark)(stagers.map { case (n, s) => () => run(n, s) }).toMap
      catch { case t: Throwable =>
        try fsFor(spark, statePath)._1.delete(new Path(staging), true)
        catch { case NonFatal(e) => t.addSuppressed(e) }
        throw t
      }

    // dir tokens for every version the pointers still reference: inherited
    // from the predecessor's manifest, plus THIS version's writer-unique
    // token when any bucket was written here; entries for versions no
    // longer referenced drop out (their data is prune-reclaimable)
    val refVers = pointers.valuesIterator.flatMap(_.valuesIterator).toSet
    val dirs: Map[Long, String] =
      prev.map(_.dirs).getOrElse(Map.empty).filter { case (v, _) => refVers(v) } ++
        (if (refVers(version)) Map(version -> s"d-$token") else Map.empty)
    commit(spark, statePath, version, cfg, pointers, prevVersion, Some(staging),
      schemas, dirs, dirName = s"d-$token", keys = keys,
      sigs = stagedStats.view.mapValues(_.map { case (pt, (s, _)) => pt -> s }).toMap)
    (pointers, stagedStats.toMap)
  }

  /** Manifest commit with the two compare-and-swap legs that make a
    * single-writer store safe against schedulers retrying jobs:
    *
    *  1. the committed head must still be `expectedPrev` — a write whose
    *     inherited pointers were computed against a superseded head would
    *     silently drop the interleaver's changes (lost update), so it
    *     fails with a retryable [[ConcurrentWriteException]] instead;
    *  2. the version's manifest is published atomically and without
    *     replace ([[publishManifestAtomic]]) — of two racers on the same
    *     version, exactly one publish succeeds. The loser (or a
    *     redelivered batch) then compares its intended manifest against
    *     the winner's: identical content is the deterministic
    *     at-least-once redelivery case and succeeds idempotently;
    *     different content is a genuine second writer and fails
    *     retryably.
    *
    * Data isolation: [[stageAndCommit]] stages its table dirs under a
    * writer-unique `.staging-v<version>-<token>` dir and commit promotes
    * the WHOLE staging dir in one rename to the equally writer-unique
    * `v<version>/d-<token>/` data dir, whose name the manifest records as
    * a `dir:` pointer — so a loser can NEVER touch a winner's committed
    * data paths, no matter how the promote and the manifest CAS
    * interleave (no destructive delete/rename of a shared destination
    * exists anywhere on the commit path). A losing or redelivered
    * attempt's own staging/promoted dirs are deleted; dirs orphaned by a
    * crashed attempt are unreferenced by every manifest and reclaimed by
    * prune. A manifest file with no END terminator (only a writer that
    * predates the atomic publish can leave one) is never readable; it is
    * refused for [[RemnantGraceMs]], then deleted and published over.
    * The equality check compares pointers AND (r11) per-bucket CONTENT
    * SIGNATURES when both sides carry them ([[Manifest.sigs]]): a
    * deterministic redelivery
    * recomputes identical signatures and succeeds idempotently, while a
    * DIFFERENT fold racing the same version — even onto the same bucket
    * set, where pointer maps alone are blind — loses retryably instead
    * of silently dropping its data. In-JVM writer races are fully
    * serialized by a per-root commit lock (StoreConcurrencySpec soaks
    * 4×16 mixed commits). A manifest without signatures (written before
    * its store recorded them) keeps the pointer-only comparison.
    */
  private[streaming] def commit(spark: SparkSession, statePath: String,
      version: Long, cfg: Config, pointers: Pointers,
      expectedPrev: Option[Long], staging: Option[String] = None,
      schemas: Map[String, StructType] = Map.empty,
      dirs: Map[Long, String] = Map.empty,
      dirName: String = "",
      keys: Map[String, Seq[String]] = Map.empty,
      sigs: Map[String, Map[Int, Long]] = Map.empty): Unit =
    // JVM-level serialization of the decision-and-publish window per
    // store root: concurrent writers IN ONE DRIVER (the common topology —
    // several streams/threads maintaining one store; StoreConcurrencySpec
    // soaks it) otherwise race the exists→classify→publish steps. The
    // CAS legs stay — they carry the CROSS-PROCESS contract.
    commitLockFor(statePath).synchronized {
      commitLocked(spark, statePath, version, cfg, pointers, expectedPrev,
        staging, schemas, dirs, dirName, keys, sigs)
    }

  /** Striped (bounded) commit locks: per-statePath Objects would grow for
    * the JVM lifetime (lifecycle queries mint UUID-named roots per run).
    * Two roots sharing a stripe only serialize against each other — a
    * liveness nicety lost, never a correctness one.
    */
  private val commitLocks = Array.fill(64)(new Object)
  private def commitLockFor(statePath: String): Object =
    commitLocks(math.floorMod(statePath.hashCode, commitLocks.length))

  /** Whether a data type contains a MapType anywhere — Spark's hash
    * functions reject map inputs, so content signatures sign over the
    * hashable columns only.
    */
  private[streaming] def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: ArrayType => containsMap(a.elementType)
    case _ => false
  }

  private def commitLocked(spark: SparkSession, statePath: String,
      version: Long, cfg: Config, pointers: Pointers,
      expectedPrev: Option[Long], staging: Option[String],
      schemas: Map[String, StructType],
      dirs: Map[Long, String],
      dirName: String,
      keys: Map[String, Seq[String]],
      sigs: Map[String, Map[Int, Long]]): Unit = {
    val (fs, _) = fsFor(spark, statePath)
    // this attempt's own (writer-unique) dirs — never anyone else's
    var promoted: Option[Path] = None
    def dropStaging(): Unit = {
      staging.foreach(sd => fs.delete(new Path(sd), true): Unit)
      promoted.foreach(p => fs.delete(p, true): Unit)
    }

    // CAS leg 1: the head this write inherited pointers from must still
    // be the head — otherwise the commit would silently drop the
    // interleaver's changes (lost update)
    val headNow = latestCommitted(spark, statePath, version - 1)
    if (headNow != expectedPrev) {
      dropStaging()
      throw new ConcurrentWriteException(
        s"committed head under $statePath moved to ${headNow.fold("none")(v => s"v$v")} " +
          s"while v$version was computed against ${expectedPrev.fold("none")(v => s"v$v")} — " +
          "another writer interleaved; re-read the head and re-run the fold")
    }
    // pointer comparison ignores tables with no live buckets: the
    // manifest only records non-empty tables, the computed map carries
    // them as empty entries
    def live(ps: Pointers): Pointers = ps.filter(_._2.nonEmpty)
    // same-content evidence: pointer maps ALONE cannot tell deterministic
    // redelivery from a different fold that raced the same version and
    // touched the same bucket set — that case was a silent lost update
    // (the loser returned "success" with its data dropped). When BOTH
    // sides carry content signatures, they must match; a sig-less side
    // (a manifest written before its store recorded signatures) keeps the
    // pointer-only comparison, so redelivery over it still succeeds.
    def liveSigs(x: Map[String, Map[Int, Long]]) = x.filter(_._2.nonEmpty)
    def winnerEquals(): Boolean =
      readManifest(spark, statePath, version)
        .exists { m =>
          val (ws, os) = (liveSigs(m.sigs), liveSigs(sigs))
          m.buckets == cfg.buckets && live(m.pointers) == live(pointers) &&
            (ws.isEmpty || os.isEmpty || ws == os)
        }
    def loseTo(how: String): Nothing = {
      dropStaging()
      throw new ConcurrentWriteException(
        s"v$version under $statePath was committed by another writer with " +
          s"different content ($how) — two distinct folds raced the same version")
    }

    val p = manifestPath(statePath, version)
    val committed = fs.exists(p) && readManifest(spark, statePath, version).isDefined
    if (committed) {
      if (!winnerEquals()) loseTo("manifest pre-existed")
      dropStaging() // identical manifest already committed: idempotent
                    // redelivery — the committed dirs already hold this data
      return
    }

    // not committed (absent, or a crash-during-commit remnant): promote
    // the whole staging dir in ONE rename to this writer's unique data
    // dir under v<version>/ — the destination name contains the writer
    // token, so it cannot collide with (or clobber) another attempt's
    // promoted data, committed or not; remnant dirs of crashed attempts
    // are simply left unreferenced for prune
    staging.foreach { sd =>
      val sp = new Path(sd)
      if (fs.exists(sp)) {
        require(dirName.nonEmpty, "staged commit needs the writer-unique dir name")
        val vDir = new Path(s"$statePath/v$version")
        fs.mkdirs(vDir)
        val dest = new Path(vDir, dirName)
        if (!fs.rename(sp, dest))
          throw new java.io.IOException(
            s"could not promote staging $sd to $dest (unique destination — " +
              "filesystem error, not a writer race)")
        promoted = Some(dest)
      }
    }
    // the manifest only ever APPEARS complete (one hardlink/rename of a
    // fully-written tmp), so there is no re-check-to-write gap to race —
    // a publish either lands first or fails EEXIST and the loop
    // re-classifies the winner
    val text = renderManifest(cfg, pointers, schemas, dirs, keys, sigs)
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 5) {
        dropStaging()
        throw new ConcurrentWriteException(
          s"v$version under $statePath: lost the atomic manifest publish " +
            s"$attempts times in a row without a readable winner appearing — " +
            "another writer is churning this version; retry the fold")
      }
      if (readManifest(spark, statePath, version).isDefined) {
        if (!winnerEquals()) loseTo("atomic publish raced")
        dropStaging() // identical winner: idempotent redelivery
        return
      }
      if (fs.exists(p)) {
        // a terminator-less file: a pre-upgrade writer's crash remnant, or
        // that writer still mid-create — refuse it while it is young
        val age = System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
        if (age < RemnantGraceMs) {
          dropStaging()
          throw new ConcurrentWriteException(
            s"terminator-less manifest for v$version under $statePath is " +
              s"${age}ms old — younger than the ${RemnantGraceMs}ms remnant " +
              "grace window; a writer may be mid-commit; retry after the window")
        }
        fs.delete(p, false): Unit // aged remnant: clear, then re-race
      }
      val published =
        try publishManifestAtomic(spark, statePath, version, text)
        catch {
          case e: java.io.IOException =>
            // the tmp is already gone; with no manifest at the final path
            // the promoted d-<token> dir is unreferenced garbage, and a
            // retrying writer stages a FRESH token — reclaim it now
            if (!fs.exists(p)) dropStaging()
            throw e
        }
      if (published) return
      // lost the EEXIST race: loop re-reads the winner
    }
  }

  /** One job for MANY tables' bucket sets (the partial read's candidate
    * buckets, [[TableStore.write]]'s touched buckets): tag each key frame,
    * union, distinct, collect — at most `buckets` ints per tag. Frames
    * that provably hold no rows (zero partitions) are skipped for free,
    * asked on the same tagged projection the union reads, so each frame
    * is planned once.
    *
    * The union/distinct/collect runs at the RDD layer DELIBERATELY: each
    * branch is a pure projection (no exchange, so Catalyst plans it in
    * one pass and AQE never engages), and the RDD-level distinct+collect
    * is ONE job with two stages — the SQL form was ~6 AQE stage-jobs of
    * pure scheduling latency per micro-batch for the same bounded
    * answer (the election is fixed per-batch latency on the streaming
    * hot path; r9 amortization profile: fold:partial-read was the
    * largest marginal phase at 12 jobs/batch).
    */
  private[streaming] def collectBucketsTagged(
      frames: Seq[(String, DataFrame, Column)]): Map[String, Set[Int]] = {
    val nonEmpty = frames
      .map { case (n, df, b) => df.select(lit(n).as("t"), b.as("pt")).rdd }
      .filter(_.getNumPartitions > 0)
    if (nonEmpty.isEmpty) Map.empty
    else nonEmpty
      .map(_.map(r => (r.getString(0), r.getInt(1))))
      .reduce(_ union _).distinct(numPartitions = 2)
      .collect()
      .groupBy(_._1)
      .map { case (n, rows) => n -> rows.map(_._2).toSet }
  }

  // --- read ----------------------------------------------------------------

  private[streaming] def bucketPaths(statePath: String, m: Manifest, table: String,
      only: Option[Set[Int]] = None): Seq[String] =
    m.pointers.getOrElse(table, Map.empty).toSeq
      .filter { case (pt, _) => only.forall(_.contains(pt)) }
      .map { case (pt, v) => s"${tableDataDir(statePath, m.dirs, v, table)}/pt=$pt" }

  private[streaming] def readPaths(spark: SparkSession, schema: StructType, paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)

  /** Read the full state at `version` by resolving its manifest pointers.
    * Bucket dirs are read as leaf paths with the canonical schema, so the
    * `pt` column never surfaces.
    */
  def read(spark: SparkSession, statePath: String, version: Long): State = {
    val m = manifestAt(spark, statePath, version)
    def tbl(spec: TableSpec): DataFrame =
      readPaths(spark, m.schemaOf(spec.name), bucketPaths(statePath, m, spec.name))
    State(tbl(tables(0)), tbl(tables(1)), tbl(tables(2)), tbl(tables(3)))
  }

  /** Latest committed state with version <= maxVersion. */
  def readLatest(spark: SparkSession, statePath: String, maxVersion: Long): Option[(Long, State)] =
    latestCommitted(spark, statePath, maxVersion)
      .map(v => (v, read(spark, statePath, v)))

  // --- partial (bucket-pruned) read ---------------------------------------

  /** The key sets a micro-batch can touch, DERIVED FROM THE BATCH ALONE
    * (before any state read). Single-column frames; supersets are safe
    * (an extra candidate only loads an extra bucket), misses are not.
    *
    *  - `assetIds` (`id`): every asset id the batch refreshes, derives
    *    (AWS accounts) or tombstones;
    *  - `teamIds` (`identifier`): refreshed + tombstoning teams;
    *  - `ownsAssetIds` (`asset_id`): assets whose owner edges are upserted
    *    or whose active-owner set the cascade must inspect;
    *  - `parentIds` (`parent_id`): out-edge buckets — refresh edge parents
    *    plus tombstoned assets (their child edges);
    *  - `childIds` (`child_id`): in-edge DISCOVERY — tombstoned assets; the
    *    reverse index turns these into the parent buckets that hold their
    *    incoming edges;
    *  - `edgeChildIds` (`child_id`): children of the batch's AWS-account
    *    edges — the reverse-index buckets the edges it may insert land in.
    */
  final case class Candidates(assetIds: DataFrame, teamIds: DataFrame,
      ownsAssetIds: DataFrame, parentIds: DataFrame, childIds: DataFrame,
      edgeChildIds: DataFrame)

  /** A bucket-pruned view of one committed version: `state` frames hold
    * ALL rows of the `loaded` buckets and nothing else, and were built
    * from exactly `paths` (so a test — or a skeptic — can bound the
    * batch's read I/O by inspection). `loaded` also names the
    * `parent_of_idx` buckets of `edgeChildIds`, which [[write]] rewrites
    * from the index's own files.
    */
  final case class Partial(version: Long, state: State,
      loaded: Map[String, Set[Int]], paths: Map[String, Seq[String]])

  /** Bucket-pruned read of the latest committed version <= maxVersion:
    * resolves the candidate keys to bucket sets (one driver-side collect
    * of <= `buckets` ints per table), expands child candidates through the
    * reverse index into their parents' buckets, and reads ONLY those
    * bucket dirs — O(batch) read I/O per micro-batch, the snapshot-store
    * analog of the reference's per-key point lookups
    * (inventory/inventory.go:382-404).
    */
  def readPartialLatest(spark: SparkSession, statePath: String, maxVersion: Long,
      cand: Candidates, cfg: Config = Config()): Option[Partial] = {
    val version = latestCommitted(spark, statePath, maxVersion)
      .getOrElse(return None)
    val m = readManifest(spark, statePath, version).get
    require(m.buckets == cfg.buckets,
      s"bucket count mismatch (manifest=${m.buckets}, config=${cfg.buckets})")

    def keyBucket(df: DataFrame, cols: Seq[String]): (DataFrame, Column) =
      (df.filter(cols.map(col(_).isNotNull).reduce(_ && _)),
        bucket(cols, cfg.buckets))
    // ONE job for the six candidate frames' bucket sets (fixed per-batch
    // latency on the streaming hot path), then one more for the in-edge
    // discovery join, which needs the index bucket set first
    val collected = collectBucketsTagged(Seq(
      ("assets", keyBucket(cand.assetIds, Seq("id"))),
      ("teams", keyBucket(cand.teamIds, Seq("identifier"))),
      ("owns", keyBucket(cand.ownsAssetIds, Seq("asset_id"))),
      ("idx", keyBucket(cand.childIds, Seq("child_id"))),
      (idxTable.name, keyBucket(cand.edgeChildIds, Seq("child_id"))),
      ("parent", keyBucket(cand.parentIds, Seq("parent_id")))
    ).map { case (n, (df, b)) => (n, df, b) })
    val assetB = collected.getOrElse("assets", Set.empty)
    val teamB = collected.getOrElse("teams", Set.empty)
    val ownsB = collected.getOrElse("owns", Set.empty)

    // in-edge discovery: index buckets of the child candidates -> the
    // parent ids of their incoming edges -> those parents' buckets
    val idxB = collected.getOrElse("idx", Set.empty)
    val idxPaths = bucketPaths(statePath, m, idxTable.name, Some(idxB))
    val discoveredParentB =
      if (idxPaths.isEmpty) Set.empty[Int]
      else readPaths(spark, idxTable.schema, idxPaths)
        .join(broadcast(cand.childIds.distinct()), Seq("child_id"), "left_semi")
        .filter(col("parent_id").isNotNull)
        .select(bucket(Seq("parent_id"), cfg.buckets).as("pt")).distinct()
        .collect().map(_.getInt(0)).toSet
    val parentB = collected.getOrElse("parent", Set.empty) ++ discoveredParentB

    val loaded = Map("assets" -> assetB, "teams" -> teamB,
      "owns" -> ownsB, "parent_of" -> parentB)
    val paths = tables.map(t =>
      t.name -> bucketPaths(statePath, m, t.name, Some(loaded(t.name)))).toMap
    def tbl(spec: TableSpec): DataFrame =
      readPaths(spark, m.schemaOf(spec.name), paths(spec.name))
    Some(Partial(version,
      State(tbl(tables(0)), tbl(tables(1)), tbl(tables(2)), tbl(tables(3))),
      loaded + (idxTable.name -> collected.getOrElse(idxTable.name, Set.empty)), paths))
  }

  // --- DSv2 planning surface (graft.sources.StoreTable) --------------------

  /** Everything the `graft-store` DataSource V2 table needs at PLAN time:
    * the resolved version, the table's canonical schema, its bucket column
    * and modulus, and bucket id → resolved bucket directory (through the
    * manifest pointers, so untouched buckets read from the version that
    * last wrote them).
    */
  private[graft] final case class ScanPlan(version: Long, schema: StructType,
      bucketCol: String, buckets: Int, bucketDirs: Map[Int, String])

  private[graft] def planScan(spark: SparkSession, statePath: String,
      table: String, version: Option[Long]): ScanPlan = {
    val v = version.getOrElse(
      latestCommitted(spark, statePath).getOrElse(
        throw new IllegalStateException(s"no committed version under $statePath")))
    val m = manifestAt(spark, statePath, v)
    // MANIFEST-FIRST resolution: a generic TableStore table's key columns
    // and schema come from its own manifest (`key:`/`schema:` lines), so
    // any store — the graph state, the corpus frames, the vector indexes
    // — is readable through the DSv2/catalog path with nothing but its
    // statePath. Graph tables fall back to their canonical specs.
    val keyCols = m.keyColsOf(table).getOrElse(
      throw new IllegalArgumentException(
        s"unknown table '$table' — not recorded in this store's manifest and " +
          s"not a graph table (${(tables :+ idxTable).map(_.name).mkString(", ")})"))
    // bucket pruning via pushed filters only applies to single-column
    // keys: a composite key's bucket is a hash over ALL its columns, so
    // pruning on one column's equality would drop live buckets. Composite
    // tables scan every pointed bucket (row filters still apply post-scan).
    val pruneCol = if (keyCols.sizeIs == 1) keyCols.head else ""
    ScanPlan(v, m.schemaOf(table), pruneCol, m.buckets,
      m.pointers.getOrElse(table, Map.empty).map { case (pt, pv) =>
        pt -> s"${tableDataDir(statePath, m.dirs, pv, table)}/pt=$pt"
      })
  }

  /** One slice of a table's diff between two manifests: old and new
    * bucket dirs whose rows can only match each other, so one task diffs
    * the slice alone. The `graft-store-cdc` source reads one input
    * partition per slice, for its stream and its batch diff alike.
    */
  private[graft] final case class DiffSlice(oldDirs: Seq[String], newDirs: Seq[String])

  /** The store's one diff-slicing rule: `table`'s change from `mOld`
    * (None: empty, before the chain's first version) to `mNew`, cut by
    * bucket residue mod g, the gcd of the two moduli. Slice r holds every
    * old bucket i ≡ r and every new bucket j ≡ r (mod g). A row lives in
    * bucket pmod(h, m) of a modulus-m version, and pmod(h, m) mod g =
    * pmod(h, g) when g divides m, so its old and new buckets share a
    * slice: each slice's multiset diff is exact, and the slices' diffs
    * add up to the table's. Only buckets whose pointer changed are kept:
    * a same-pointer bucket is the same directory on both sides (shadow
    * paging never rewrites one in place), so its rows cancel within
    * their slice.
    *
    * Equal moduli give one slice per changed bucket; a rebucket 8 → 32
    * gives 8, each one old bucket against the four new buckets its rows
    * moved to. Manifests that record different key columns for the table
    * share no bucket rule, and their diff is one slice.
    */
  private[graft] def diffSlices(statePath: String, table: String,
      mOld: Option[Manifest], mNew: Manifest): Seq[DiffSlice] = {
    val pOld = mOld.flatMap(_.pointers.get(table)).getOrElse(Map.empty[Int, Long])
    val pNew = mNew.pointers.getOrElse(table, Map.empty[Int, Long])
    val g = mOld match {
      case Some(o) if pOld.nonEmpty && pNew.nonEmpty =>
        if (o.keyColsOf(table) == mNew.keyColsOf(table)) BigInt(o.buckets).gcd(mNew.buckets).toInt
        else 1
      // one side holds no rows, so nothing cancels: a slice per bucket
      case _ => math.max(mOld.fold(0)(_.buckets), mNew.buckets)
    }
    def dirs(ps: Map[Int, Long], vDirs: Map[Long, String], pts: Seq[Int]): Seq[String] =
      pts.flatMap(pt => ps.get(pt).map(pv => s"${tableDataDir(statePath, vDirs, pv, table)}/pt=$pt"))
    val dirsOld = mOld.fold(Map.empty[Long, String])(_.dirs)
    (pOld.keySet ++ pNew.keySet).toSeq.sorted
      .filter(pt => pOld.get(pt) != pNew.get(pt))
      .groupBy(_ % g).toSeq.sortBy(_._1)
      .map { case (_, pts) => DiffSlice(dirs(pOld, dirsOld, pts), dirs(pNew, mNew.dirs, pts)) }
  }

  /** The committed version a change feed from `fromExclusive` diffs
    * against, with its manifest: the latest committed version <= it, None
    * at genesis (-1). Any other base must still be committed — a pruned
    * base would silently skip its changes, so it fails loudly instead
    * (the [[graft.graph.Inventory.changesSince]] retention contract).
    */
  private def diffBase(spark: SparkSession, statePath: String,
      fromExclusive: Long): Option[(Long, Manifest)] =
    if (fromExclusive < 0) None
    else Some(readManifest(spark, statePath, fromExclusive).map(fromExclusive -> _)
      .orElse(latestManifest(spark, statePath, fromExclusive))
      .getOrElse(throw new IllegalStateException(
        s"CDC base version <= $fromExclusive is no longer committed under " +
          s"$statePath (pruned?) — reseed from a full read, as with changesSince")))

  /** Plan the row-level change feed of `table` for every committed
    * version in `(fromExclusive, toInclusive]`: each version's
    * [[diffSlices]] against its committed predecessor, tagged with the
    * version. Read I/O per version is bounded by that version's writes.
    */
  private[graft] def planCdc(spark: SparkSession, statePath: String,
      table: String, fromExclusive: Long, toInclusive: Long,
      streamSchema: Option[StructType] = None): Seq[(Long, DiffSlice)] = {
    // manifest probes bounded by the PENDING range + one probe for the
    // base — never the whole chain (see committedVersionsBetween)
    val emit = committedManifestsBetween(spark, statePath, fromExclusive, toInclusive)
    if (emit.isEmpty) return Nil
    val olds = diffBase(spark, statePath, fromExclusive).map(_._2) +: emit.map(e => Some(e._2))
    olds.zip(emit).flatMap { case (mOld, (v, mNew)) =>
      // schema-evolution guard: a version written under a schema WIDER
      // than the running stream's row schema cannot be emitted — reading
      // its files through the narrower schema would silently drop the new
      // columns from the change feed. Fails loudly; restarting the stream
      // re-binds the evolved schema (older, narrower versions read fine —
      // their files null-fill under the stream schema).
      streamSchema.foreach { ss =>
        val extra = mNew.schemaOf(table).fields.filterNot(f =>
          ss.fields.exists(sf => sf.name == f.name && sf.dataType == f.dataType))
        if (extra.nonEmpty) throw new IllegalStateException(
          s"table '$table' evolved at v$v: fields ${extra.map(_.name).mkString(", ")} " +
            "are not in this stream's bound schema — emitting would silently drop " +
            "them from the change feed; restart the stream to bind the evolved schema")
      }
      diffSlices(statePath, table, mOld, mNew).map(v -> _)
    }
  }

  /** Plan the batch diff of `table` over `(fromExclusive, toInclusive]`:
    * its net change as [[diffSlices]] between the base (resolved as for
    * the stream) and the committed end version, bound to the end's
    * recorded schema. Additive evolution (the write contract) means old
    * files null-fill the added columns, so an evolved row diffs as
    * removed(old shape) + added(new shape); a narrowing change would drop
    * the base's columns from the feed and is refused.
    */
  private[graft] def planDiff(spark: SparkSession, statePath: String,
      table: String, fromExclusive: Long, toInclusive: Long): (StructType, Seq[DiffSlice]) = {
    val mNew = manifestAt(spark, statePath, toInclusive)
    val sc = mNew.schemaOf(table)
    val base = diffBase(spark, statePath, fromExclusive)
    base.filter(_._2.pointers.contains(table)).foreach { case (vOld, mOld) =>
      val older = mOld.schemaOf(table).fields.filterNot(of =>
        sc.fields.exists(nf => nf.name == of.name && nf.dataType == of.dataType))
      require(older.isEmpty,
        s"diff of '$table' across a narrowing schema change (v$vOld fields " +
          s"${older.map(_.name).mkString(", ")} absent in v$toInclusive) is not defined")
    }
    (sc, diffSlices(statePath, table, base.map(_._2), mNew))
  }

  /** Schema of `table` at the LATEST committed version (canonical when
    * nothing is committed yet) — what a new CDC stream or catalog listing
    * binds to.
    */
  private[graft] def latestSchema(spark: SparkSession, statePath: String,
      table: String): StructType =
    latestManifest(spark, statePath).map(_._2.schemaOf(table))
      .getOrElse(tableSchema(table))

  private[graft] def tableSchema(table: String): StructType =
    tables.find(_.name == table).map(_.schema).getOrElse(
      throw new IllegalArgumentException(
        s"unknown table '$table' — one of ${tables.map(_.name).mkString(", ")}"))

  /** Driver-side twin of [[bucket]] for ONE key value: Spark's `hash` is
    * seed-42 Murmur3, evaluated here through the same Catalyst expression
    * so the two can never drift.
    */
  private[graft] def bucketIdFor(value: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(Literal.create(value, StringType)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % buckets) + buckets) % buckets
  }

  // --- version diff (manifest-pruned) --------------------------------------

  /** Row-level diff of one table between two committed versions, plus the
    * bucket dirs it reads (so a test can bound the read I/O by
    * inspection, like [[Partial]]).
    */
  final case class TableDiff(table: String, changed: DataFrame,
      pathsOld: Seq[String], pathsNew: Seq[String])

  /** What changed between two committed versions — the audit/CDC query
    * over the snapshot store (the batch-table analog of D5's as-of diff).
    *
    * The manifests make this O(changed): only buckets whose pointers
    * differ are read ([[diffSlices]]), so per-version write I/O bounds
    * diff read I/O, however big the state. Within those buckets, rows are
    * compared whole: a row of vNew absent from vOld is `added`, the
    * reverse is `removed` (an updated row appears as its removed old
    * version plus its added new version).
    */
  def diffVersions(spark: SparkSession, statePath: String, vOld: Long,
      vNew: Long): Seq[TableDiff] =
    diffVersions(spark, statePath, vOld -> manifestAt(spark, statePath, vOld),
      vNew -> manifestAt(spark, statePath, vNew))

  /** [[diffVersions]] between two manifests the caller already read. */
  private[graft] def diffVersions(spark: SparkSession, statePath: String,
      old: (Long, Manifest), nw: (Long, Manifest)): Seq[TableDiff] =
    tables.map { t =>
      val slices = diffSlices(statePath, t.name, Some(old._2), nw._2)
      TableDiff(t.name, readDiff(spark, statePath, t.name, old, nw),
        slices.flatMap(_.oldDirs), slices.flatMap(_.newDirs))
    }

  /** `table`'s net change from `old` to `nw`: the table's columns plus
    * `change` (`added`/`removed`), read as a batch scan of the
    * `graft-store-cdc` source ([[planDiff]]) with the two manifests lent
    * to its planning.
    */
  private[streaming] def readDiff(spark: SparkSession, statePath: String,
      table: String, old: (Long, Manifest), nw: (Long, Manifest)): DataFrame = {
    val before = lent.get
    lent.set(before + ((statePath, old._1) -> old._2) + ((statePath, nw._1) -> nw._2))
    try spark.read.format("graft-store-cdc")
      .option("path", statePath).option("table", table)
      .option("startingVersion", old._1).option("endingVersion", nw._1)
      .load().drop("version")
    finally lent.set(before)
  }

  // --- prune (per-bucket garbage collection) -------------------------------

  /** Reclaim storage at bucket granularity: delete every `pt=` dir that no
    * manifest of a surviving version (>= `keepFrom`) references, then any
    * version dir left with no bucket dirs at all. Referenced old bucket
    * dirs MUST survive — they back untouched buckets of newer versions —
    * so live data is bounded by one copy per bucket per surviving
    * manifest, with no periodic full rewrite.
    */
  // --- reader pins: the batch-read retention watermark ---------------------

  /** Register a batch reader's retention pin. DataFrames are lazy: a
    * reader that resolves version `v`'s manifest and materializes later
    * (or over many jobs) MUST hold a pin at `v` for the span of its
    * read, or a concurrent [[prune]] below `v` reclaims bucket dirs out
    * from under its paths mid-job. While any pin exists, prune's
    * effective floor is min(keepFrom, lowest pinned version) — the same
    * retention contract the CDC source documents, extended to batch.
    * Pins are tiny files under `pins/<token>`; tokens are caller-chosen
    * (one per concurrent reader) and MUST be released with [[unpin]] —
    * an abandoned pin holds retention forever by design (loud operator
    * decision, not a silent reclaim).
    */
  def pinVersion(spark: SparkSession, statePath: String, version: Long,
      token: String): Unit = {
    require(token.nonEmpty && !token.exists(c => c == '/' || c.isWhitespace),
      s"pin token '$token' must be a single path segment")
    val (fs, _) = fsFor(spark, statePath)
    val out = fs.create(new Path(s"$statePath/pins/$token"), true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
  }

  def unpin(spark: SparkSession, statePath: String, token: String): Unit = {
    val (fs, _) = fsFor(spark, statePath)
    fs.delete(new Path(s"$statePath/pins/$token"), false): Unit
  }

  /** Lowest pinned version, if any pins exist. An unparseable pin file
    * fails LOUDLY: it was engine-written, so damage means the retention
    * floor is unknown — reclaiming anyway could pull a live reader's
    * data.
    */
  private def pinnedFloor(spark: SparkSession, statePath: String): Option[Long] = {
    val (fs, _) = fsFor(spark, statePath)
    val dir = new Path(s"$statePath/pins")
    if (!fs.exists(dir)) return None
    val vs = fs.listStatus(dir).toSeq.filter(_.isFile).map { s =>
      val in = fs.open(s.getPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.trim.toLongOption.getOrElse(throw new IllegalStateException(
        s"unparseable reader pin ${s.getPath}: '$text' — retention floor " +
          "unknown, refusing to prune (delete the pin to proceed)"))
    }
    vs.minOption
  }

  def prune(spark: SparkSession, statePath: String, keepFrom: Long): Unit = {
    val (fs, root) = fsFor(spark, statePath)
    if (!fs.exists(root)) return
    // the effective floor honors every live reader's pin (see
    // [[pinVersion]]): never reclaim a version a batch reader still
    // resolves its paths through
    val keepEff = pinnedFloor(spark, statePath).fold(keepFrom)(math.min(_, keepFrom))
    // reclaim staging dirs orphaned by crashed writers (a completed write
    // always deletes its own; prune runs when no writer is active)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".staging-"))
      .foreach(s => fs.delete(s.getPath, true))
    val all = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => s.getPath.getName.drop(1).toLongOption)
    val survivors = all.filter(_ >= keepEff)
      .filter(v => readManifest(spark, statePath, v).isDefined)
    // referenced bucket dirs keyed by (version, data dir name — "" for the
    // legacy flat layout, table, bucket): a surviving manifest resolves
    // each pointer through ITS recorded dir token, so a crashed/losing
    // writer's orphan `d-` dirs are unreferenced by construction
    val referenced: Set[(Long, String, String, Int)] = survivors
      .flatMap(v => readManifest(spark, statePath, v))
      .flatMap(m => m.pointers.flatMap { case (t, bm) =>
        bm.map { case (pt, v) => (v, m.dirs.getOrElse(v, ""), t, pt) }
      })
      .toSet
    for (v <- all if v < keepEff) {
      val vDir = new Path(root, s"v$v")
      // the version is no longer a valid read point once any of its buckets
      // may be reclaimed — drop its manifest FIRST so committedVersions
      // never lists a partially-pruned version (a read would silently miss
      // buckets; without a manifest it fails loudly instead)
      fs.delete(manifestPath(statePath, v), false)
      // both layouts live under vDir: legacy v/<table>/pt=N and
      // writer-unique v/<d-token>/<table>/pt=N
      def reclaimTable(dname: String, tDir: Path): Unit =
        for {
          ptDir <- fs.listStatus(tDir).toSeq.filter(_.isDirectory)
          pt <- ptDir.getPath.getName.stripPrefix("pt=").toIntOption
          if !referenced((v, dname, tDir.getName, pt))
        } fs.delete(ptDir.getPath, true)
      for (child <- fs.listStatus(vDir).toSeq.filter(_.isDirectory)) {
        if (child.getPath.getName.startsWith("d-"))
          fs.listStatus(child.getPath).toSeq.filter(_.isDirectory)
            .foreach(t => reclaimTable(child.getPath.getName, t.getPath))
        else reclaimTable("", child.getPath)
      }
      // drop table dirs emptied of buckets (then empty token dirs), then
      // the version dir once no bucket data remains anywhere under it
      def sweepTable(tDir: Path): Seq[Path] = {
        val pts = fs.listStatus(tDir).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("pt="))
        if (pts.isEmpty) { fs.delete(tDir, true); Nil } else pts.map(_.getPath)
      }
      val remaining = fs.listStatus(vDir).toSeq.filter(_.isDirectory).flatMap { child =>
        if (child.getPath.getName.startsWith("d-")) {
          val pts = fs.listStatus(child.getPath).toSeq.filter(_.isDirectory)
            .flatMap(t => sweepTable(t.getPath))
          if (pts.isEmpty) { fs.delete(child.getPath, true); Nil } else pts
        } else sweepTable(child.getPath)
      }
      if (remaining.isEmpty) fs.delete(vDir, true)
    }
  }
}
