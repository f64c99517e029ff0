package graft.tools

import org.apache.spark.sql.SparkSession
import graft.streaming.{StateStore, TableStore}

/** Multi-writer concurrency soak against ONE [[TableStore]] root
  * (VERDICT r10 next #4): N threads race mixed full / incremental /
  * delete commits at the shared head for `targetVersions` rounds, each
  * re-reading the head and retrying on [[StateStore.ConcurrentWriteException]].
  *
  * Invariants the caller asserts (see [[Result]]):
  *  - exactly ONE thread's write() returns success per version
  *    (`falseSuccesses` counts a second "winner" — the lost-update
  *    pathology the r11 content-signature CAS closes: before it, a loser
  *    whose delta touched the same bucket SET as the winner's sailed
  *    through the pointer-equality check and silently lost its data);
  *  - the committed version chain is contiguous;
  *  - the final store content equals a SERIAL in-memory replay of the
  *    winning ops in version order (zero lost updates);
  *  - every thread's commits eventually land (bounded retries — the
  *    liveness half; `retryHistogram` records the contention cost).
  *
  * Shared by StoreConcurrencySpec (suite-scale) and the
  * [[ConcurrencyProbe]] main (record-scale, 8×50).
  */
object ConcurrencySoak {

  sealed trait Op
  final case class FullOp(rows: Map[Long, String]) extends Op
  final case class UpsertOp(rows: Map[Long, String]) extends Op
  final case class DeleteOp(keys: Set[Long]) extends Op

  final case class Result(
      threads: Int,
      versions: Long,
      winners: Map[Long, (Int, Op)], // version -> (thread, op)
      falseSuccesses: Int,
      benignDoubleWins: Int,
      retriesPerThread: Map[Int, Int],
      retryHistogram: Map[Int, Int], // retries before one success -> count
      finalRows: Map[Long, String],
      replayRows: Map[Long, String]) {
    def totalRetries: Int = retriesPerThread.values.sum
  }

  private val spec = TableStore.Spec("t", Seq("k"))
  private val KeySpace = 20L

  def run(spark: SparkSession, root: String, threads: Int,
      targetVersions: Long): Result = {
    import spark.implicits._
    def frame(rows: Map[Long, String]) =
      rows.toSeq.sortBy(_._1).toDF("k", "v")
    val init = (0L until KeySpace).map(k => k -> "init").toMap
    TableStore.write(spark, root, 0L, Seq(spec), Map("t" -> frame(init)))

    val winners = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Op)]
    val falseSuccesses = new java.util.concurrent.atomic.AtomicInteger(0)
    val benignDoubleWins = new java.util.concurrent.atomic.AtomicInteger(0)
    // the op's content effect on a predecessor state — the store's actual
    // idempotence contract is CONTENT, not op identity: two different
    // no-op deletes (both keys absent) legitimately both pass the sig CAS
    def apply(prev: Map[Long, String], op: Op): Map[Long, String] = op match {
      case FullOp(rows) => rows
      case UpsertOp(rows) => prev ++ rows
      case DeleteOp(keys) => prev -- keys
    }
    val retries = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val histogram = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]

    def opFor(thread: Int, attempt: Int): Op = (thread * 31 + attempt) % 10 match {
      case 0 => FullOp((0L until KeySpace).map(k => k -> s"full-$thread-$attempt").toMap)
      case 1 | 2 => DeleteOp(Set((thread * 7 + attempt * 3) % KeySpace))
      case _ =>
        val k1 = (thread * 13 + attempt * 5) % KeySpace
        UpsertOp(Map(k1 -> s"u-$thread-$attempt",
          (k1 + 1) % KeySpace -> s"u2-$thread-$attempt"))
    }

    val workers = (0 until threads).map { tid =>
      new Thread(() => {
        try {
          var attempt = 0
          var retriesSinceWin = 0
          var done = false
          // liveness bound: a thread that cannot land a commit within
          // this many consecutive CAS losses is starving — fail loudly
          val maxConsecutiveLosses = 50 * threads
          while (!done && failure.get() == null) {
            val head = TableStore.latestVersion(spark, root).getOrElse(-1L)
            if (head >= targetVersions) done = true
            else {
            val v = head + 1
            val op = opFor(tid, attempt)
            attempt += 1
            try {
              op match {
                case FullOp(rows) =>
                  TableStore.write(spark, root, v, Seq(spec), Map("t" -> frame(rows)))
                case UpsertOp(rows) =>
                  TableStore.write(spark, root, v, Seq(spec), Map("t" -> frame(rows)),
                    delta = true)
                case DeleteOp(keys) =>
                  TableStore.write(spark, root, v, Seq(spec), Map.empty,
                    delta = true, deletes = Map("t" -> keys.toSeq.toDF("k")))
              }
              // success: exactly one thread may ever believe it won v —
              // UNLESS both raced the byte-identical op (e.g. the same
              // delete key from the same predecessor): identical content
              // is the store's idempotence contract and both "wins" are
              // the same version, so only a DIFFERENT-content double-win
              // is the lost-update pathology
              val prevWin = winners.putIfAbsent(v, (tid, op))
              if (prevWin != null && prevWin._2 != op) {
                // double-win with a DIFFERENT op: the lost-update
                // pathology ONLY if the two ops' content effects differ
                // on the predecessor state — a content-identical pair
                // (e.g. two no-op deletes of absent keys) is the store's
                // documented benign idempotent case
                import spark.implicits._
                val prevRows = TableStore.read(spark, root, v - 1, "t")
                  .as[(Long, String)].collect().toMap
                if (apply(prevRows, prevWin._2) == apply(prevRows, op))
                  benignDoubleWins.incrementAndGet(): Unit
                else falseSuccesses.incrementAndGet(): Unit
              }
              histogram.merge(retriesSinceWin, 1, _ + _)
              retriesSinceWin = 0
            } catch {
              case _: StateStore.ConcurrentWriteException =>
                retries.merge(tid, 1, _ + _)
                retriesSinceWin += 1
                if (retriesSinceWin > maxConsecutiveLosses)
                  throw new IllegalStateException(
                    s"thread $tid starved: $retriesSinceWin consecutive CAS losses")
            }
            }
          }
        } catch {
          case t: Throwable => failure.compareAndSet(null, t): Unit
        }
      }, s"soak-$tid")
    }
    workers.foreach(_.start())
    workers.foreach(_.join(600000))
    // a join timeout leaves a live thread still mutating shared state —
    // fail loudly instead of reporting a baffling replay mismatch
    val stuck = workers.filter(_.isAlive)
    require(stuck.isEmpty,
      s"soak threads did not finish: ${stuck.map(_.getName).mkString(", ")}")
    if (failure.get() != null) throw failure.get()

    import scala.jdk.CollectionConverters._
    val winMap = winners.asScala.toMap
    // serial replay of the winners in version order
    var replay = init
    winMap.toSeq.sortBy(_._1).foreach { case (_, (_, op)) => op match {
      case FullOp(rows) => replay = rows
      case UpsertOp(rows) => replay = replay ++ rows
      case DeleteOp(keys) => replay = replay -- keys
    }}
    val headV = TableStore.latestVersion(spark, root).get
    val finalRows = TableStore.read(spark, root, headV, "t")
      .as[(Long, String)].collect().toMap
    Result(threads, headV, winMap, falseSuccesses.get(), benignDoubleWins.get(),
      retries.asScala.toMap, histogram.asScala.toMap, finalRows, replay)
  }
}

/** Record-scale run of [[ConcurrencySoak]] — prints one JSON line for
  * the round's hardening record. Usage:
  * `Test/runMain graft.tools.ConcurrencyProbe [threads] [versions]`.
  */
object ConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val threads = args.headOption.map(_.toInt).getOrElse(8)
    val versions = args.lift(1).map(_.toLong).getOrElse(50L)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft-conc-probe").toString
    val r = ConcurrencySoak.run(spark, root, threads, versions)
    val ok = r.falseSuccesses == 0 &&
      r.winners.keySet == (1L to r.versions).toSet &&
      r.finalRows == r.replayRows
    val hist = r.retryHistogram.toSeq.sortBy(_._1)
      .map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")
    println(s"""{"probe":"concurrency","threads":${r.threads},""" +
      s""""versions":${r.versions},"false_successes":${r.falseSuccesses},""" +
      s""""benign_double_wins":${r.benignDoubleWins},""" +
      s""""total_retries":${r.totalRetries},"retry_histogram":$hist,""" +
      s""""serial_replay_equal":${r.finalRows == r.replayRows},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
