package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.graph.GraphOps.State
import graft.ingest.Pipeline
import graft.schema.Schemas

/** A1/E1 — Structured Streaming ingestion: envelope stream → snapshot
  * tables (reference: stream/kafka/kafka.go:64-106 at-least-once consumer
  * loop + the per-message handler fan-out, collapsed to per-micro-batch
  * set-at-a-time folds).
  *
  * Delivery: Spark's checkpoint WAL gives at-least-once batch replay
  * (the analog of kafka.go:102-104 store-offset-after-handler). The state
  * sink is VERSIONED per batch — `statePath/v<batchId>/<table>` — and a
  * replayed batch deterministically rebuilds its version from the
  * previous one, so at-least-once + idempotent rebuild = effectively
  * exactly-once state (proven by kafka_test.go:136-211's analog in
  * StreamingSpec).
  */
object StreamIngest {

  /** A2/E5 — consumer construction: connection, SASL/SCRAM auth (the
    * reference wires SCRAM-SHA-256 over SASL_SSL from env config,
    * main.go:45-56) and backpressure. The reference's 100 ms poll loop
    * (kafka.go:76-83) maps to a trigger interval + `maxOffsetsPerTrigger`
    * bounding each micro-batch; offset management is replaced wholesale by
    * the checkpoint WAL, so `enable.auto.*` knobs have no analog.
    */
  final case class KafkaSourceConfig(
      servers: String,
      topic: String,
      /** e.g. Some("SASL_SSL") */
      securityProtocol: Option[String] = None,
      /** e.g. Some("SCRAM-SHA-256") */
      saslMechanism: Option[String] = None,
      /** full JAAS line carrying username/password when auth is on */
      saslJaasConfig: Option[String] = None,
      /** E5 backpressure: cap rows per micro-batch */
      maxOffsetsPerTrigger: Option[Long] = None,
      startingOffsets: String = "earliest") {

    def options: Map[String, String] =
      Map(
        "kafka.bootstrap.servers" -> servers,
        "subscribe" -> topic,
        "includeHeaders" -> "true",
        "startingOffsets" -> startingOffsets) ++
        securityProtocol.map("kafka.security.protocol" -> _) ++
        saslMechanism.map("kafka.sasl.mechanism" -> _) ++
        saslJaasConfig.map("kafka.sasl.jaas.config" -> _) ++
        maxOffsetsPerTrigger.map("maxOffsetsPerTrigger" -> _.toString)
  }

  /** Kafka envelope source (A1/A2). Not exercised in tests (no broker in
    * the build environment) — the mapping is the documented contract:
    * key/value arrive as binary (null value = tombstone), headers as
    * ARRAY<STRUCT<key STRING, value BINARY>>, and the partition offset is
    * the total order within a partition (reference relies on exactly this,
    * kafka.go:76).
    */
  def kafkaSource(spark: SparkSession, cfg: KafkaSourceConfig): DataFrame =
    cfg.options.foldLeft(spark.readStream.format("kafka")) {
      case (r, (k, v)) => r.option(k, v)
    }
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        transform(col("headers"), h => struct(
          h.getField("key").as("key"),
          h.getField("value").cast("string").as("value"))).as("metadata"),
        col("offset"))

  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    kafkaSource(spark, KafkaSourceConfig(servers, topic))

  /** Local replay twin of [[kafkaSource]] over the `graft-replay`
    * DataSource V2 source ([[graft.sources.ReplayLog]]): a line-delimited
    * envelope log replayed with real offsets, decoded here — downstream of
    * the source, exactly where the Kafka path decodes — into the SAME
    * envelope frame `(key, value, metadata, offset)`, so everything from
    * [[start]] down is source-agnostic. `maxOffsetsPerTrigger` rides
    * Spark's admission-control API, as on the Kafka source (E5).
    */
  def replaySource(spark: SparkSession, logPath: String,
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame =
    maxOffsetsPerTrigger.foldLeft(
        spark.readStream.format("graft-replay").option("path", logPath)) {
        (r, n) => r.option("maxOffsetsPerTrigger", n.toString)
      }
      .load()
      .select(from_json(col("value"), graft.schema.Schemas.envelopeSchema).as("env"),
        col("offset"))
      .select(col("env.key").as("key"), col("env.value").as("value"),
        col("env.metadata").as("metadata"), col("offset"))

  // -- A5/E4: sink status/error mapping + retry -----------------------------
  // The reference maps HTTP statuses to typed errors (ErrAlreadyExists /
  // ErrNotFound / InvalidStatusError, inventory.go:34-43) and its run loop
  // retries the whole stream after RETRY_DURATION (main.go:71-91). Here the
  // sink is a filesystem write: transient IO failures retry with backoff
  // inside the batch (then fail the batch → Spark restarts it from the
  // checkpoint); semantic violations (duplicate natural keys in strict
  // mode) must NOT retry — they would fail identically forever.

  /** Fatal sink-side state violation — retrying cannot help. */
  final class InvalidStateException(msg: String) extends RuntimeException(msg)

  /** True for failures worth retrying in place (IO-ish), false for
    * semantic errors ([[InvalidStateException]], IllegalArgumentException
    * from strict-mode `require`) and for fatal JVM conditions (OOM,
    * interrupts — `NonFatal` — which must propagate immediately, not be
    * slept through and re-run).
    */
  def isRetryable(e: Throwable): Boolean = e match {
    case _: InvalidStateException => false
    case _: IllegalArgumentException => false
    // a manifest that fails its integrity check will fail it on every
    // retry — operator intervention, not backoff
    case _: StateStore.CorruptManifestException => false
    // another writer winning the commit CAS IS worth retrying: the store
    // is intact, re-reading the new head resolves the conflict
    case _: StateStore.ConcurrentWriteException => true
    case scala.util.control.NonFatal(_) => true
    case _ => false
  }

  /** Retry `f` up to `attempts` times with linear backoff, rethrowing the
    * first non-retryable or final failure.
    */
  def retrying[A](attempts: Int, backoffMs: Long = 100)(f: => A): A = {
    var n = 0
    while (true) {
      n += 1
      try return f
      catch {
        case e: Throwable if n < attempts && isRetryable(e) =>
          Thread.sleep(backoffMs * n)
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Start the ingestion query over any streaming envelope frame
    * (kafkaSource, or a MemoryStream in tests).
    */
  def start(
      envelopes: DataFrame,
      statePath: String,
      checkpointPath: String,
      cfg: Pipeline.Config = Pipeline.Config(),
      baseEpochSecs: Long = 1704067200L,
      store: StateStore.Config = StateStore.Config()): StreamingQuery =
    envelopes.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, statePath, cfg, baseEpochSecs, store)
      }
      .start()

  /** One micro-batch: previous committed state + batch → version
    * `v<batchId>` in the partition-limited [[StateStore]]. BOTH directions
    * are bucket-pruned: the read loads only the state buckets the batch's
    * candidate keys can touch ([[Pipeline.candidatesOf]] +
    * [[StateStore.readPartialLatest]]), the fold merges and checkpoints
    * only those partial frames, and the write rewrites exactly the
    * buckets the read loaded — per-batch read, compute and write are
    * O(loaded buckets), not O(state). A loaded bucket is rewritten whole,
    * so that is not O(batch): a 50-event trigger stages about 215 KB of
    * a 554 KB store. Reprocessing the same batchId
    * (at-least-once restart) overwrites the same version with the same
    * deterministic result.
    */
  /** @param keepVersions how many predecessor versions survive pruning.
    *        1 (default) keeps only the crash-recovery predecessor; CDC
    *        consumers ([[graft.graph.Inventory.changesSince]]) need
    *        retention >= their maximum polling lag, or their next diff
    *        finds its base version pruned and must reseed from a full
    *        read.
    */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      statePath: String,
      cfg: Pipeline.Config,
      baseEpochSecs: Long,
      store: StateStore.Config = StateStore.Config(),
      keepVersions: Int = 1): Unit = {
    val spark = batch.sparkSession
    // which buckets the partial read loaded — the ones the write rewrites
    // (None on the first batch: no predecessor manifest => the write is a
    // full snapshot)
    var loaded: Option[Map[String, Set[Int]]] = None
    val stateFor: StateStore.Candidates => State = { cand =>
      StateStore.readPartialLatest(spark, statePath, batchId - 1, cand, store) match {
        case Some(p) => loaded = Some(p.loaded); p.state
        case None => Pipeline.emptyState(spark)
      }
    }
    val next = try {
      Pipeline.fold(spark, stateFor, batch, cfg, baseEpochSecs)
    } catch {
      // reference halt-point parity: everything before the first bad
      // message was applied — persist that prefix as this batch's
      // version, THEN propagate the (non-retryable) halt. Redelivery
      // recomputes the identical prefix and overwrites idempotently.
      case e: Pipeline.StrictHaltException =>
        retrying(attempts = 3)(
          StateStore.write(spark, statePath, batchId, e.prefix, loaded, store))
        throw e
    }
    // transient write failures retry in place; anything still failing
    // aborts the batch and Spark redelivers it from the checkpoint (E4)
    retrying(attempts = 3)(Pipeline.tagged(spark, "fold:store-write")(
      StateStore.write(spark, statePath, batchId, next, loaded, store)))
    // drop versions no surviving manifest references; keep at least the
    // predecessor for crash-recovery of the next batch (more when CDC
    // consumers poll with lag — see keepVersions)
    StateStore.prune(spark, statePath, keepFrom = batchId - keepVersions)
  }
}
