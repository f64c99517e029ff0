package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.streaming.{StateStore, TableStore}

/** TWO-JVM manifest-publish probe (sbt "Test/runMain
  * graft.tools.RemnantProbe [outJson]") — the cross-process half the
  * in-JVM commit lock cannot cover, exercising the atomic publish with a
  * genuinely FOREIGN writer (a forked java process with its own
  * SparkSession, not a thread):
  *
  *   Leg 1  fresh legacy remnant, foreign writer: the parent writes a
  *          terminator-less v1 MANIFEST by hand (what a crashed — or
  *          still in-flight — writer that predates the atomic publish
  *          leaves) and forks a child JVM to commit v1. The child must
  *          REFUSE retryably (grace window), because a fresh remnant is
  *          indistinguishable from such a writer mid-create.
  *   Leg 2  aged legacy remnant, foreign writer: the parent ages the
  *          remnant past the grace window and forks the child again. Now
  *          the child must delete it and publish; the parent (a third
  *          process-perspective) verifies the committed content.
  *   Leg 3  committed winner: the parent commits v1, then forks the
  *          child to commit different rows at v1. The child must lose
  *          retryably (content CAS), never overwrite.
  *   Leg 4  stalled writer: a complete manifest sits unpublished in a
  *          tmp; the child commits with no grace wait, and the stalled
  *          writer's resumed link fails EEXIST.
  *
  * Exit code 0 and a JSON record (HARDENING-compatible) on success;
  * non-zero with the failing leg otherwise. Child mode:
  * `RemnantProbe commit <root> <version> <tag>`.
  */
object RemnantProbe {

  private val spec = Seq(TableStore.Spec("t", Seq("k")))
  private val cfg = StateStore.Config(buckets = 4)

  private def session(app: String): SparkSession = {
    val s = graft.GraftSession.builder(shufflePartitions = 4)
      .master("local[2]").appName(app)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rows(spark: SparkSession, tag: String) = {
    import spark.implicits._
    (1 to 8).map(i => (s"k$i", s"$tag-$i")).toDF("k", "v")
  }

  /** Child: attempt one full commit of v<version>. Exit 0 = committed,
    * 3 = retryable ConcurrentWrite refusal (message on stdout), 1 = any
    * other failure.
    */
  private def childCommit(root: String, version: Long, tag: String): Unit = {
    val spark = session(s"remnant-child-$tag")
    try {
      TableStore.write(spark, root, version, spec,
        Map("t" -> rows(spark, tag)), cfg = cfg)
      println(s"[child] committed v$version tag=$tag")
      sys.exit(0)
    } catch {
      case e: StateStore.ConcurrentWriteException =>
        println(s"[child] retryable refusal: ${e.getMessage}")
        sys.exit(3)
      case e: Throwable =>
        println(s"[child] unexpected: $e")
        sys.exit(1)
    }
  }

  /** Fork a child JVM running [[childCommit]]; returns (exit, stdout). */
  private def fork(root: String, version: Long, tag: String): (Int, String) = {
    val java = s"${sys.props("java.home")}/bin/java"
    // the same JDK-17 module opens build.sbt forks the parent with
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(java, "-Xmx2g", "-cp", sys.props("java.class.path")) ++ opens ++
      Seq("-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "graft.tools.RemnantProbe", "commit", root, version.toString, tag)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8").mkString
    val code = p.waitFor()
    (code, out)
  }

  /** Write a terminator-less v<version> MANIFEST by hand — the
    * crash/in-flight shape of a writer that predates the atomic publish.
    */
  private def plantRemnant(root: String, version: Long): java.io.File = {
    val v0 = Paths.get(s"$root/v0/MANIFEST")
    val text = new String(Files.readAllBytes(v0), "UTF-8")
    val torn = text.substring(0, text.indexOf("crc="))
    val dir = Paths.get(s"$root/v$version")
    Files.createDirectories(dir)
    val p = dir.resolve("MANIFEST")
    Files.write(p, torn.getBytes("UTF-8"))
    p.toFile
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "commit" :: root :: v :: tag :: _ =>
      childCommit(root, v.toLong, tag)
    case rest =>
      val outJson = rest.headOption.getOrElse("/tmp/remnant_probe.json")
      val spark = session("remnant-probe-parent")
      var legs = Vector.empty[(String, Boolean, String)]
      def leg(name: String)(run: => (Boolean, String)): Unit = {
        val (ok, detail) = try run catch { case e: Throwable => (false, e.toString) }
        println(s"[remnant-probe] $name: ${if (ok) "ok" else "FAIL"} — $detail")
        legs :+= ((name, ok, detail))
      }

      // ---- leg 1: fresh legacy remnant, foreign writer refused -------------
      val root1 = Files.createTempDirectory("graft_remnant1").toString
      TableStore.write(spark, root1, 0L, spec, Map("t" -> rows(spark, "base")), cfg = cfg)
      plantRemnant(root1, 1L)
      leg("fresh remnant: foreign JVM refused retryably") {
        val (code, out) = fork(root1, 1L, "alien")
        (code == 3 && out.contains("grace window"),
          s"exit=$code, grace-window refusal=${out.contains("grace window")}")
      }

      // ---- leg 2: aged legacy remnant, foreign writer reclaims --------------
      leg("aged remnant: foreign JVM deletes it and publishes") {
        val remnant = new java.io.File(s"$root1/v1/MANIFEST")
        remnant.setLastModified(System.currentTimeMillis() - 2 * StateStore.RemnantGraceMs)
        val (code, out) = fork(root1, 1L, "alien2")
        val committed = StateStore.readManifest(spark, root1, 1L).isDefined
        val content = TableStore.read(spark, root1, 1L, "t")
          .collect().map(_.getString(1)).sorted.toSeq
        (code == 0 && committed && content == (1 to 8).map(i => s"alien2-$i").sorted,
          s"exit=$code committed=$committed rows=${content.take(2).mkString(",")}...")
      }

      // ---- leg 3: committed winner — different content loses ---------------
      val root3 = Files.createTempDirectory("graft_remnant3").toString
      TableStore.write(spark, root3, 0L, spec, Map("t" -> rows(spark, "base")), cfg = cfg)
      leg("committed by another writer: different-content racer loses") {
        // the winner: a real committed v1 with its rows
        TableStore.write(spark, root3, 1L, spec, Map("t" -> rows(spark, "winner")),
          delta = true, cfg = cfg)
        val (code, out) = fork(root3, 1L, "loser")
        val content = TableStore.read(spark, root3, 1L, "t")
          .collect().map(_.getString(1)).sorted.toSeq
        (code == 3 && content.forall(_.startsWith("winner")),
          s"exit=$code winnerIntact=${content.forall(_.startsWith("winner"))}")
      }

      // ---- leg 4: stalled writer leaves no remnant --------------------------
      // a writer stalled mid-commit leaves only a tmp, NOTHING at the final
      // path, so a foreign writer commits with no grace wait; the stalled
      // writer's resumed publish fails EEXIST.
      val root4 = Files.createTempDirectory("graft_remnant4").toString
      TableStore.write(spark, root4, 0L, spec, Map("t" -> rows(spark, "base")), cfg = cfg)
      leg("stalled writer leaves no remnant; resume loses EEXIST") {
        // the stalled writer: a COMPLETE manifest sitting in its tmp,
        // unpublished (copy v0's manifest text as stand-in content)
        val v1 = Paths.get(s"$root4/v1"); Files.createDirectories(v1)
        val stalledTmp = v1.resolve(".MANIFEST.tmp-stalled")
        Files.write(stalledTmp, Files.readAllBytes(Paths.get(s"$root4/v0/MANIFEST")))
        // the foreign writer commits immediately — no grace refusal
        val (code, _) = fork(root4, 1L, "winner")
        // the stalled writer resumes: its atomic publish must fail EEXIST
        val resumed =
          try { Files.createLink(v1.resolve("MANIFEST"), stalledTmp); false }
          catch { case _: java.nio.file.FileAlreadyExistsException => true }
        val content = TableStore.read(spark, root4, 1L, "t")
          .collect().map(_.getString(1)).sorted.toSeq
        (code == 0 && resumed && content.forall(_.startsWith("winner")),
          s"exit=$code resumeLostEEXIST=$resumed winnerIntact=" +
            s"${content.forall(_.startsWith("winner"))}")
      }

      val ok = legs.forall(_._2)
      val json =
        s"""{"probe": "RemnantProbe (two-JVM atomic manifest publish)",
           |"grace_ms": ${StateStore.RemnantGraceMs},
           |"legs": [${legs.map { case (n, o, d) =>
               s"""{"name": "$n", "ok": $o, "detail": ${ujson(d)}}"""
             }.mkString(", ")}],
           |"all_ok": $ok}""".stripMargin.replace("\n", " ")
      Files.write(Paths.get(outJson), json.getBytes("UTF-8"))
      println(s"[remnant-probe] ${if (ok) "ALL OK" else "FAILURES"} — $outJson")
      if (!ok) sys.exit(1)
      spark.stop()
  }

  private def ujson(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
