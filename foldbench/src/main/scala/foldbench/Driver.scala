package foldbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.decode.Decode
import graft.graph.Inventory
import graft.schema.Schemas
import graft.streaming.{StateStore, StreamIngest}

/** The JVM half of the consumer-loop benchmark.
  *
  * Folds a generated envelope log through the production path
  * (`graft-replay` source -> [[StreamIngest]] -> versioned [[StateStore]])
  * in a closed loop: the next chunk is appended to the log only after the
  * previous trigger committed. Reads go back through [[Inventory]] and the
  * `graft-store` source. Everything is timed from outside the library;
  * with tracing on, Spark's public listeners add job, task and progress
  * records. The result, with every read answer and the final committed
  * state, goes to one JSON file that run.py checks and summarises.
  *
  * Arguments: `--log --plan --work --out --seconds --trace --cores`.
  */
object Driver {

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val plan = mapper.readTree(Files.readAllBytes(Paths.get(opt("plan"))))
    val lines = Files.readAllLines(Paths.get(opt("log")), UTF_8).asScala.toIndexedSeq
    val out = new JMap[String, AnyRef]()

    val t0 = System.nanoTime()
    val spark = GraftSession.local(opt("cores").toInt)
      .appName("foldbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    out.put("session_s", Double.box(secs(t0)))

    val seedEvents = plan.get("seed_events").asInt()
    val chunks = plan.get("chunks").elements().asScala.map(_.asInt()).toIndexedSeq
    val offsets = chunks.scanLeft(seedEvents)(_ + _)
    val rounds = plan.get("reads")
    val tracer = if (trace) Some(new Tracer(spark)) else None

    // set-up: a fresh store and stream, the seed folded into it as v0
    val t1 = System.nanoTime()
    val run = new Run(spark, work.resolve("run"))
    run.publish(lines.take(seedEvents))
    run.start()
    run.query.processAllAvailable()
    var version = 0L
    require(StateStore.latestCommitted(spark, run.state, Long.MaxValue).contains(version),
      "set-up did not commit v0")
    out.put("seed_s", Double.box(secs(t1)))

    tracer.foreach(_.attach(run.query))
    val triggers, reads, decodes, failures = new JList[AnyRef]()
    // Closed loop, one client. Fold phase: append a chunk, wait until its
    // version commits, repeat while within the first two thirds of the
    // measuring time. Read phase: an unmeasured warm-up (one read of each
    // kind), then rounds of the read mix against the last version, while
    // within the measuring time. Each phase runs at least once.
    val measureStart = System.nanoTime()
    var step = 0
    var alive = true
    while (alive && step < chunks.size && (step == 0 || secs(measureStart) < seconds * 2 / 3)) {
      val chunk = lines.slice(offsets(step), offsets(step + 1))
      tracer.foreach(_ => decodes.add(decodeSpan(spark, step, chunk)))
      run.publish(lines.take(offsets(step + 1)))
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val rec = record("step" -> step, "events" -> chunk.size,
        "bytes" -> chunk.map(_.length + 1L).sum)
      try {
        run.query.processAllAvailable()
        rec.put("secs", Double.box(secs(t)))
        rec.put("commit_ms", Long.box(System.currentTimeMillis()))
        val v = StateStore.latestCommitted(spark, run.state, Long.MaxValue)
        require(v.contains(version + 1), s"step $step committed $v, expected v${version + 1}")
        version += 1
        rec.put("ok", Boolean.box(true))
        rec.put("version", Long.box(version))
      } catch {
        case e: Exception =>
          rec.put("ok", Boolean.box(false))
          failures.add(s"trigger $step: ${e.getMessage}")
          alive = false
      }
      rec.put("start_ms", Long.box(startMs))
      rec.put("end_ms", Long.box(System.currentTimeMillis()))
      triggers.add(rec)
      step += 1
    }
    val scanType = plan.get("scan_type").asText()
    if (alive) {
      readMix(spark, run, step - 1, plan.get("warmup"), 1, 1, version, scanType, warm = true,
        reads, failures)
    }
    var round = 0
    while (alive && round < rounds.size && (round == 0 || secs(measureStart) < seconds)) {
      readMix(spark, run, step - 1, rounds.get(round), plan.get("polls").asInt(),
        plan.get("scans").asInt(), version, scanType, warm = false, reads, failures)
      round += 1
    }
    out.put("triggers", triggers)
    out.put("reads", reads)
    out.put("decodes", decodes)

    run.close()
    tracer.foreach(tr => out.put("trace", tr.dump(triggers.size)))
    out.put("store_bytes", Long.box(dirBytes(run.dir.resolve("state"))))
    val st = StateStore.read(spark, run.state, version)
    val tables = new JMap[String, AnyRef]()
    Seq("assets" -> st.assets, "teams" -> st.teams, "owns" -> st.owns,
      "parent_of" -> st.parentOf).foreach { case (n, df) => tables.put(n, rows(project(n, df))) }
    out.put("final", record("version" -> version, "tables" -> tables))
    out.put("failures", failures)
    out.put("unexpired_s", Long.box(Schemas.Unexpired.getTime / 1000))
    spark.stop()
    mapper.writeValue(Paths.get(opt("out")).toFile, out)
  }

  /** One store + checkpoint + live log, and the ingestion query over them. */
  final class Run(spark: SparkSession, val dir: Path) {
    Files.createDirectories(dir)
    val log: Path = dir.resolve("log.jsonl")
    val state: String = dir.resolve("state").toString
    var query: StreamingQuery = _

    /** Make `lines` the log's content in one rename, so the source never
      * sees a half-written chunk: a trigger holds whole chunks only.
      */
    def publish(lines: Seq[String]): Unit = {
      val tmp = dir.resolve("log.jsonl.tmp")
      Files.write(tmp, lines.mkString("", "\n", if (lines.isEmpty) "" else "\n").getBytes(UTF_8))
      Files.move(tmp, log, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }

    def start(): Unit =
      query = StreamIngest.start(StreamIngest.replaySource(spark, log.toString),
        state, dir.resolve("ckpt").toString)

    def close(): Unit = if (query != null) query.stop()
  }

  /** One round of the read mix against `version`, committed by trigger
    * `step`: the `lookups`, `polls` polls and `scans` scans, each kind spread
    * evenly over the round, so that its samples span the round's whole
    * interval instead of a burst within it. Warm-up reads are checked like
    * the others but marked, and left out of the timings.
    */
  private def readMix(spark: SparkSession, run: Run, step: Int, lookups: JsonNode,
      polls: Int, scans: Int, version: Long, scanType: String, warm: Boolean,
      reads: JList[AnyRef], failures: JList[AnyRef]): Unit = {
    def timed(rec: JMap[String, AnyRef])(f: => AnyRef): Unit = {
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      if (warm) rec.put("warm", Boolean.box(true))
      try {
        rec.put("rows", f)
        rec.put("ok", Boolean.box(true))
      } catch {
        case e: Exception =>
          rec.put("ok", Boolean.box(false))
          failures.add(s"${rec.get("kind")} at step $step: ${e.getMessage}")
      }
      rec.put("secs", Double.box(secs(t)))
      rec.put("start_ms", Long.box(startMs))
      rec.put("end_ms", Long.box(System.currentTimeMillis()))
      reads.add(rec)
    }
    def lookup(l: JsonNode): Unit = {
      val (endpoint, id) = (l.get("endpoint").asText(), l.get("id").asText())
      timed(record("kind" -> "lookup", "step" -> step, "endpoint" -> endpoint, "id" -> id)) {
        Inventory.lookup(spark, run.state, assetIds = Seq(id)) match {
          case Some(p) =>
            val (table, df) = endpoint match {
              case "owners" => ("owns", Inventory.owners(p.state, id))
              case "parents" => ("parent_of", Inventory.parents(p.state, id))
              case "children" => ("parent_of", Inventory.children(p.state, id))
            }
            rows(project(table, df))
          case None => throw new IllegalStateException("no committed version")
        }
      }
    }
    def poll(): Unit =
      timed(record("kind" -> "cdc", "step" -> step, "since" -> (version - 1))) {
        val (v, diffs) = Inventory.changesSince(spark, run.state, version - 1).getOrElse(
          throw new IllegalStateException(s"no version after v${version - 1}"))
        require(v == version, s"changesSince reached v$v, expected v$version")
        val byTable = new JMap[String, AnyRef]()
        diffs.filter(d => keyCols.contains(d.table)).foreach { d =>
          byTable.put(d.table, rows(project(d.table, d.changed)))
        }
        byTable
      }
    def scan(): Unit =
      timed(record("kind" -> "scan", "step" -> step, "type" -> scanType)) {
        rows(project("assets", spark.read.format("graft-store")
          .option("path", run.state).option("table", "assets").load()
          .filter(col("type") === scanType)))
      }
    // the i-th of n reads of a kind goes at (i + 1/2) / n of the round
    def spread(n: Int, read: Int => Unit): Seq[(Double, () => Unit)] =
      (0 until n).map(i => ((i + 0.5) / n, () => read(i)))
    val ls = lookups.elements().asScala.toIndexedSeq
    (spread(ls.size, i => lookup(ls(i))) ++ spread(polls, _ => poll()) ++
      spread(scans, _ => scan())).sortBy(_._1).foreach(_._2())
  }

  /** Benchmark-side decode of one chunk: the decode stage alone, forced by
    * counting its valid rows.
    */
  private def decodeSpan(spark: SparkSession, step: Int, chunk: Seq[String]): JMap[String, AnyRef] = {
    import spark.implicits._
    val env = chunk.toDF("line")
      .select(from_json(col("line"), Schemas.envelopeSchema).as("env"))
      .select("env.*")
    val startMs = System.currentTimeMillis()
    val t = System.nanoTime()
    val valid = Decode.decode(env).filter(col("valid")).count()
    record("step" -> step, "secs" -> secs(t), "valid" -> valid,
      "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis())
  }

  private val timeCols = Map(
    "assets" -> Seq("first_seen", "last_seen", "expiration"),
    "teams" -> Nil,
    "owns" -> Seq("start_time", "end_time"),
    "parent_of" -> Seq("first_seen", "last_seen", "expiration"))
  private val keyCols = Map(
    "assets" -> Seq("id", "type", "identifier"),
    "teams" -> Seq("identifier", "name"),
    "owns" -> Seq("team_id", "asset_id"),
    "parent_of" -> Seq("parent_id", "child_id"))

  /** The compared projection of a table's rows: natural columns, then
    * timestamps as epoch seconds (plus `change` on CDC frames).
    */
  private def project(table: String, df: DataFrame): DataFrame = {
    val cols: Seq[Column] = keyCols(table).map(col) ++
      timeCols(table).map(c => unix_seconds(col(c)).as(c))
    df.select(cols ++ (if (df.columns.contains("change")) Seq(col("change")) else Nil): _*)
  }

  private def rows(df: DataFrame): JList[AnyRef] = {
    val out = new JList[AnyRef]()
    df.collect().foreach { r: Row =>
      val l = new JList[AnyRef]()
      (0 until r.length).foreach(i => l.add(r.get(i).asInstanceOf[AnyRef]))
      out.add(l)
    }
    out
  }

  private[foldbench] def record(kv: (String, Any)*): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]()
    kv.foreach { case (k, v) => m.put(k, v.asInstanceOf[AnyRef]) }
    m
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
