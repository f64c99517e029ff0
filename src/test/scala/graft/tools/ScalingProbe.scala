package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.Dedup
import graft.graph.GraphOps
import graft.streaming.StateStore
import graft.temporal.Selection

/** Measured scaling curves for the nine scale-critical operator families
  * (VERDICT r4 next #3): synthesize k x copies of the sf0.1 corpus by
  * explode-with-salt and time each family at that k. One JVM per k —
  * run `Test/runMain graft.tools.ScalingProbe <sfDir> <k>` once per
  * scale (scripts/scaling.sh drives 1/4/16) so block-manager residue
  * from one scale can NEVER contaminate the next; the driver script fits
  * alpha = log(t_hi/t_lo) / log(k_hi/k_lo) per family and writes
  * SCALING.md. alpha ~1 is linear scaling; alpha >> 1 names a
  * super-linear family.
  *
  * Scaling constructions keep the DATA PROPERTIES the operators' cost
  * models depend on:
  *  - documents: every token is suffixed with the copy index, so copies
  *    share ZERO word shingles — the near-dup cluster structure repeats
  *    per copy instead of collapsing all copies into one giant LSH
  *    cluster (which would measure a DIFFERENT corpus shape, not scale).
  *  - events: user/event ids offset per copy — k x more keys of the same
  *    per-key size, the production growth shape.
  *  - closure edges: fixed-depth (<=16) chains over the scaled EVENT id
  *    space (~100k nodes per copy, so per-round data work dominates the
  *    fixed per-round scheduling cost) — k x more nodes, constant depth.
  *  - state store: bucket count grows with the corpus (64k), per the
  *    Config contract that one bucket stays batch-sized at scale; the
  *    1-key read must then stay ~FLAT, the O(batch)-not-O(state) claim.
  */
object ScalingProbe {

  private def timeMin[A](runs: Int, spark: SparkSession)(f: => A): Double =
    (1 to runs).map { _ =>
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sqlContext.clearCache()
      dt
    }.min

  /** k copies of documents: doc_id offset per copy; every token suffixed
    * with the copy tag (regexp group ref in a columnar replacement) so
    * cross-copy shingle overlap is zero.
    */
  private[tools] def scaleDocs(s: SparkSession, dir: String, k: Int): DataFrame =
    Tables.documents(s, dir)
      .withColumn("i", explode(array((0 until k).map(lit): _*)))
      .select(
        (col("doc_id") + col("i").cast("long") * 10000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1x"), col("i").cast("string"))).as("text"))
      .repartition(32)
      .localCheckpoint(true)

  /** k copies of events: ids offset per copy; timestamps offset by 40 days
    * per copy so k x data occupies a k x LONGER history (the production
    * growth shape) — a fixed span with k x density would make any
    * time-window join k² pairs BY WORKLOAD DEFINITION, measuring the data
    * shape instead of the operator.
    */
  private def scaleEvents(s: SparkSession, dir: String, k: Int): DataFrame =
    Tables.events(s, dir)
      .withColumn("i", explode(array((0 until k).map(lit): _*)))
      .select(
        (col("event_id") + col("i").cast("long") * 1000000000L).as("event_id"),
        (col("user_id") + col("i").cast("long") * 100000L).as("user_id"),
        (col("ts").cast("long") + col("i").cast("long") * 3456000L)
          .cast("timestamp").as("ts"),
        col("event_type"),
        col("value"))
      .repartition(32)
      .localCheckpoint(true)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt).getOrCreate()
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(1)
    // optional family filter (args 3+): run only the named families — the
    // 64x legs re-measure just the highest-alpha families without paying
    // for a full sweep at that scale
    val want = args.drop(2).toSet
    def on(names: String*): Boolean = want.isEmpty || names.exists(want)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // warm codegen/FS

    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    def record(family: String)(secs: => Double): Unit = if (on(family)) {
      val t = secs
      out(family) = t
      System.err.println(f"[scaling] $family%-18s k=$k%-3d ${t}%7.2f s")
      System.gc() // let ContextCleaner reclaim dropped checkpoint blocks
    }

    // prerequisites are LAZY so a family filter never pays for corpora it
    // does not touch
    lazy val docs = scaleDocs(spark, dir, k)
    lazy val events = scaleEvents(spark, dir, k)

    // 1. LSH near-dup pairs (band join + candidate verify), the
    // q_minhash_lsh_pairs constants
    record("lsh_pairs")(timeMin(3, spark) {
      Dedup.lshJaccardPairs(Dedup.wordShingleDocs(docs), bands = 8, r = 2).count()
    })

    // 2. decontamination: corpus shingles exploded once vs a broadcast
    // benchmark set (constant size: copy-0 low-id docs)
    if (on("decontaminate")) {
    val sh = Dedup.wordShingleDocs(docs).localCheckpoint(true)
    val benchSet = sh.filter(col("doc_id") < 20)
      .select(explode(col("hs")).as("h")).distinct().localCheckpoint(true)
    record("decontaminate")(timeMin(3, spark) {
      sh.select(col("doc_id"), explode(col("hs")).as("h"))
        .join(broadcast(benchSet), "h")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .count()
    })
    }

    // 3. ancestor closure over fixed-depth chains on the scaled EVENT id
    // space: ~100k nodes per copy, depth constant at <=16
    if (on("closure")) {
    val edges = events.select(col("event_id").as("c"))
      .distinct()
      .filter(col("c") % 16 =!= 0)
      .select(col("c"), (col("c") - 1).as("p"))
      .localCheckpoint(true)
    // the family measures the BFS join dataflow — pin it past the
    // one-task fallback, which would otherwise absorb the k=1 leg
    spark.conf.set("spark.graft.closure.localEdgeLimit", "0")
    record("closure")(timeMin(3, spark) {
      GraphOps.ancestorsClosure(edges, "c", "p", maxDepth = 20).count()
    })
    spark.conf.unset("spark.graft.closure.localEdgeLimit")
    }

    // 4. distributed exact selection (p50/p90/p99) over ONE huge group
    record("percentiles_dist")(timeMin(3, spark) {
      Selection.kthSmallestBy(
        events.select((round(col("value") * 100)).cast("long").as("v")),
        "v", n => Seq(50, 90, 99).map(p => (n * p + 99) / 100))
    })

    // 5. versioned store, 1-key bucket-pruned read: bucket count tracks
    // the corpus (one bucket stays ~batch-sized), so the candidate read
    // must load ~constant rows whatever the store size
    if (on("store_1key_read", "store_diff_1key")) {
    val root = java.nio.file.Files.createTempDirectory(s"graft_scale_$k").toString
    val cfg = StateStore.Config(buckets = 64 * k)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val assets = events.select(col("user_id")).distinct()
      .select(concat(lit("a"), col("user_id").cast("string")).as("id"),
        lit("T").as("type"), concat(lit("a"), col("user_id").cast("string")).as("identifier"),
        lit(t0).as("first_seen"), lit(t0).as("last_seen"),
        lit(graft.schema.Schemas.Unexpired).as("expiration"))
    val st = graft.ingest.Pipeline.emptyState(spark).copy(assets = assets)
    StateStore.write(spark, root, 0L, st, None, cfg) // untimed build
    import spark.implicits._
    val cand = StateStore.Candidates(
      assetIds = Seq("a7").toDF("id"),
      teamIds = Seq.empty[String].toDF("identifier"),
      ownsAssetIds = Seq.empty[String].toDF("asset_id"),
      parentIds = Seq.empty[String].toDF("parent_id"),
      childIds = Seq.empty[String].toDF("child_id"),
      edgeChildIds = Seq.empty[String].toDF("child_id"))
    record("store_1key_read")(timeMin(3, spark) {
      val p = StateStore.readPartialLatest(spark, root, 0L, cand, cfg).get
      p.state.assets.count()
    })

    // 5b. one-key version diff (the CDC read path): manifest pruning must
    // bound diff read I/O by the version's WRITE I/O — one bucket here —
    // whatever the store size, so the curve must stay ~flat as the store
    // grows k x (bucket count tracks the corpus, one bucket stays
    // ~constant-sized)
    val tBump = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val bumped = st.copy(assets = assets.withColumn("last_seen",
      when(col("id") === "a7", lit(tBump)).otherwise(col("last_seen"))))
    val (p1, l1) = graft.streaming.AssetBuckets(bumped, Seq("a7"), cfg)
    StateStore.write(spark, root, 1L, p1, l1, cfg) // untimed build
    record("store_diff_1key")(timeMin(3, spark) {
      StateStore.diffVersions(spark, root, 0L, 1L)
        .find(_.table == "assets").get.changed.count()
    })
    }

    // 6. range join: 1 h incident windows vs the full stream — candidate
    // fan-out must track interval density per cell (constant here), so
    // wall time tracks rows, not rows x intervals
    record("range_join")(timeMin(3, spark) {
      val inc = events.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
      val pts = events.select(col("event_id"), col("ts"), col("user_id"))
      graft.temporal.TemporalJoins.pointInInterval(pts, "ts", inc, "w_start", "w_end")
        .groupBy(col("incident_id")).agg(count(lit(1)).as("n"))
        .count()
    })

    // 7. bigram LM: model build (vocabulary-scale aggs — copies share no
    // tokens, so vocabulary grows k x too) + co-partitioned scoring joins
    record("lm_score")(timeMin(3, spark) {
      val big = docs
        .select(col("doc_id"), graft.ext.TextAnalysis.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
      val c1 = big.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
      big.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nb"), expr("sum((n12 * 1000000) div n1)").as("s"))
        .count()
    })

    // 8. triangle counting over the co-purchase graph: k DISJOINT copies
    // (order AND part ids offset per copy, offsets divisible by 10 so the
    // q_triangle_count part filter's subgraph structure is preserved) —
    // per-copy degree distribution is identical, so total work is exactly
    // k x one copy; a super-linear curve would indict the wedge join, not
    // the data
    lazy val li = Tables.lineitem(spark, dir)
      .filter(col("l_partkey") % 10 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
      .withColumn("i", explode(array((0 until k).map(lit): _*)))
      .select(
        (col("l_orderkey") + col("i").cast("long") * 100000000L).as("l_orderkey"),
        (col("l_partkey") + col("i").cast("long") * 10000000L).as("l_partkey"))
      .repartition(32)
      .localCheckpoint(true)
    record("triangles")(timeMin(3, spark) {
      graft.graph.GraphAnalytics.triangleCounts(
        graft.graph.GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey"))
        .count()
    })

    // 9. incremental triangle-view maintenance: a FIXED-size edge delta
    // (copy-0 edges, ~1/37 of one copy — constant as k grows) absorbed
    // into a k x-larger stored view. The delta enumeration joins the
    // broadcast-size dE against the corpus adjacency (one scan, no wedge
    // enumeration) and the merge outer-joins the stored view — so the
    // curve has a linear floor (the view scan) but should sit far BELOW
    // the recount family's curve and diverge from it as k grows: the
    // measured "maintain, don't recount" claim.
    lazy val eNewS = graft.graph.GraphAnalytics
      .coOccurrenceEdges(li, "l_orderkey", "l_partkey").localCheckpoint(true)
    if (on("tri_delta_absorb")) {
    val dE = eNewS.filter(col("a") < 10000000L && (col("a") + col("b")) % 37 === 0)
      .localCheckpoint(true)
    val eOldS = eNewS.join(dE, Seq("a", "b"), "left_anti").localCheckpoint(true)
    val storedTri = graft.graph.GraphAnalytics.triangleCounts(eOldS)
      .localCheckpoint(true) // untimed: the stored view predates the batch
    record("tri_delta_absorb")(timeMin(3, spark) {
      graft.state.Ivm.mergeAdditive(storedTri,
        graft.graph.GraphAnalytics.triangleDeltaCounts(dE, eNewS),
        keys = Seq("part"), addCols = Seq("n_tri")).count()
    })
    }

    // 10. user-week analytics (the cohort-retention / churn core): the
    // corpus collapses FIRST to distinct (user, week) — everything
    // downstream is user-cardinality. k x users over a k x longer history
    // -> k x user-week pairs; the churn anti-join and the week rollup are
    // both co-partitioned with that frame's own exchange, so the curve
    // must track the initial distinct, ~linearly.
    record("user_week_churn")(timeMin(3, spark) {
      val uw = events
        .select(col("user_id"), expr("CAST(ts AS LONG) div 604800").as("wk"))
        .distinct()
      val nxt = uw.select(col("user_id"), (col("wk") - 1).as("wk"))
      uw.join(nxt, Seq("user_id", "wk"), "left_anti")
        .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
        .count()
    })

    // 11. connected components over the same k-copy co-purchase graph:
    // component structure repeats per copy (per-copy diameters identical),
    // so the min-label propagation's ROUND COUNT is k-invariant and each
    // round's join+agg handles k x rows — the curve must track the edge
    // count ~linearly; a super-linear curve would indict the per-round
    // join or the convergence check, not the data.
    // the family measures the DATAFLOW labeling's curve — pin it past the
    // single-task union-find fallback, which would otherwise absorb every
    // leg at these sizes
    if (on("graph_cc")) {
    spark.conf.set("spark.graft.cc.localEdgeLimit", "0")
    record("graph_cc")(timeMin(3, spark) {
      graft.ext.Components.connectedComponents(eNewS, "a", "b").count()
    })
    spark.conf.unset("spark.graft.cc.localEdgeLimit")
    }

    // 12. segment-level dedup (q_paragraph_dedup): segments explode once,
    // first-occurrence election is groupBy(h).min + join back (map-side
    // combine collapses duplicated segments, the join is AQE-skew-
    // splittable), reassembly groups back by doc. Copies share ZERO
    // segments (token suffixing), so the duplication structure repeats
    // per copy: the curve must track the segment count ~linearly; a
    // super-linear curve would indict the election join, not the data.
    record("paragraph_dedup")(timeMin(3, spark) {
      val segs = docs
        .select(col("doc_id"), graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), explode(expr(
          "sequence(CAST(0 AS BIGINT), CAST((size(toks)+11) DIV 12 - 1 AS BIGINT))")).as("i"))
        .select(col("doc_id"), col("i"),
          concat_ws(" ", slice(col("toks"), (col("i") * 12 + 1).cast("int"), lit(12))).as("t"))
        .withColumn("h", graft.functions.Md5PrefixLong(col("t"), 15))
      val key = col("doc_id") * 100000L + col("i")
      val keeper = segs.groupBy(col("h")).agg(min(key).as("kk"))
      segs.join(keeper, "h")
        .groupBy(col("doc_id"))
        .agg(sum(when(key === col("kk"), 1L).otherwise(0L)).as("n_kept"))
        .count()
    })

    // 13. skip-gram extraction (q_skipgram_pairs): positions explode once,
    // the top-50 vocab (a corpus-wide TakeOrdered over the k x-larger
    // vocabulary — copies share no tokens) broadcasts back, then the
    // doc-keyed pair join has window-bounded <=3 x fan-out. The explode +
    // vocabulary aggregate are the linear backbone; the pair join's input
    // SHRINKS as k grows (top-50 of a k x vocabulary covers fewer
    // occurrences), so any super-linear curve would indict the explode or
    // the vocab aggregate.
    record("skipgram")(timeMin(3, spark) {
      val t = docs
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .filter(col("term") =!= "")
        .select(col("doc_id"), col("term"), col("pos").cast("long").as("pos"))
      val vocab = t.groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(50).select("term")
      val tv = t.join(broadcast(vocab), "term").select("doc_id", "term", "pos")
      tv.as("x").join(tv.as("y"),
          col("x.doc_id") === col("y.doc_id") &&
            (col("y.pos") - col("x.pos")).between(1, 3))
        .groupBy(col("x.term").as("center"), col("y.term").as("context"))
        .agg(count(lit(1)).as("n"))
        .count()
    })

    // 14. event-transition matrix (q_transition_matrix): ONE user-keyed
    // window shuffle (per-user sort INSIDE partitions — k x users of the
    // same per-user history length, never a global sort) + a
    // type²-bounded pair aggregate. The curve must track the event count
    // ~linearly; a super-linear curve would indict the window sort.
    record("transitions")(timeMin(3, spark) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .count()
    })

    // 15. top-k over ONE corpus-sized key — the degenerate group the D4
    // scale argument is about. The bounded-heap aggregate's partial mode
    // reduces every map task to <= k rows before the exchange, so its
    // curve must stay ~linear with full parallelism; the row_number
    // window form ships ALL k x rows of the key to one reducer and sorts
    // there — same answer, single-threaded tail that grows with k. The
    // pair is recorded so SCALING.md can show the measured gap, not just
    // assert it.
    if (on("topk_1key_heap", "topk_1key_window")) {
    val oneKey = events.select(lit(1L).as("g"), col("value"), col("event_id"))
      .localCheckpoint(true)
    record("topk_1key_heap")(timeMin(3, spark) {
      oneKey.groupBy(col("g"))
        .agg(graft.functions.TopKOrdered(col("value"), col("event_id"), 3).as("t"))
        .select(col("g"), explode(col("t"))).count()
    })
    record("topk_1key_window")(timeMin(3, spark) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("value").desc, col("event_id"))
      oneKey.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
    })
    }

    // 16. planted-skew election join (VERDICT r6 next #5): ONE viral
    // paragraph hash owns 10% of ALL segments — the pathological
    // single-hot-key, large-large join shape behind q_paragraph_dedup's
    // AQE-skew-split claim and the salted verify joins. Both the plain
    // join (AQE splits the oversized probe partition at runtime) and
    // Skew.saltedJoin (the salt prevents the pile-up outright) are timed,
    // and each variant also records its MAX per-task shuffle-read rows in
    // millions ("..._maxtask_mrows"): per-task max is the number the skew
    // claim is about — it must stay ~flat (alpha ~0 relative to the 10%
    // hot share growing k x would mean the hot key rode on one reducer).
    if (on("skew_viral_aqe", "skew_viral_salted")) {
      val key = col("doc_id") * 100000L + col("i")
      val segs = docs
        .select(col("doc_id"), graft.ext.TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), explode(expr(
          "sequence(CAST(0 AS BIGINT), CAST((size(toks)+11) DIV 12 - 1 AS BIGINT))")).as("i"))
        .select(col("doc_id"), col("i"),
          concat_ws(" ", slice(col("toks"), (col("i") * 12 + 1).cast("int"), lit(12))).as("t"))
        .withColumn("h",
          when(pmod(key, lit(10L)) === 0L, lit(42L)) // the viral paragraph
            .otherwise(graft.functions.Md5PrefixLong(col("t"), 15)))
        .drop("t")
        .localCheckpoint(true)
      val keeper = segs.groupBy(col("h")).agg(min(key).as("kk")).localCheckpoint(true)
      final class MaxShuffleTask extends org.apache.spark.scheduler.SparkListener {
        val max = new java.util.concurrent.atomic.AtomicLong(0)
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null)
            max.getAndAccumulate(m.shuffleReadMetrics.recordsRead, math.max(_, _)): Unit
        }
      }
      def measured(name: String)(join: => Long): Unit = if (on(name)) {
        val l = new MaxShuffleTask
        spark.sparkContext.addSparkListener(l)
        try record(name)(timeMin(3, spark)(join))
        finally {
          Thread.sleep(500) // listener bus drains async
          spark.sparkContext.removeSparkListener(l)
        }
        out(s"${name}_maxtask_mrows") = l.max.get() / 1e6
        System.err.println(f"[scaling] ${name}_maxtask_mrows k=$k%-3d ${l.max.get() / 1e6}%7.2f")
      }
      // Pin the AT-SCALE plan shape: at 100 TB the keeper side is
      // corpus-scale (never broadcastable) and AQE's skew split triggers
      // on its 256 MB-per-task byte threshold. At probe scale the keeper
      // would broadcast (skew-immune by accident) and the hot partition
      // sits under the default thresholds — so broadcast is disabled and
      // the skew thresholds are scaled to the probe's partition sizes,
      // exercising the same split machinery the claim relies on.
      val pinned = Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k")
      pinned.foreach { case (c, v) => spark.conf.set(c, v) }
      try {
        measured("skew_viral_aqe") {
          segs.join(keeper, "h").filter(key === col("kk")).count()
        }
        measured("skew_viral_salted") {
          graft.state.Skew.saltedJoin(segs, keeper, Seq("h"), factor = 32)
            .filter(key === col("kk")).count()
        }
      } finally pinned.keys.foreach(spark.conf.unset)
    }

    // 12. media codec + transform pass (r8): per-user pixel grids from
    // the scaled events go through the REAL PNG encode + ImageIO decode
    // inside mapPartitions — users scale with k, per-user work is capped
    // at 48 pixels, so the family must stay ~linear (one aggregation
    // shuffle + an embarrassingly parallel codec pass)
    if (on("codec_media")) {
      import spark.implicits._
      val grids = events
        .select(col("user_id"),
          pmod(floor(col("value") * 100).cast("long"), lit(256L)).cast("int").as("b"),
          pmod(floor(col("value")).cast("long"), lit(256L)).cast("int").as("g"),
          pmod(col("event_id"), lit(256L)).cast("int").as("r"),
          col("ts"), col("event_id"))
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("b"), col("g"), col("r")))).as("evs"))
        .filter(size(col("evs")) >= 8)
        .select(col("user_id"),
          expr("transform(slice(evs, 1, least((size(evs) div 8) * 8, 48)), " +
            "e -> struct(e.b AS _1, e.g AS _2, e.r AS _3))").as("pixels"))
        .as[graft.ext.Multimodal.UserPixels]
      record("codec_media")(timeMin(3, spark) {
        grids.mapPartitions { it =>
          val dec = new graft.ext.Multimodal.MediaDecoder()
          it.map { u =>
            val h = u.pixels.size / 8
            val f = dec.decode(graft.ext.Multimodal.MediaDoc(u.user_id, "image/png",
              graft.ext.Multimodal.encodePng(8, h, u.pixels)))
            f.width.toLong + f.height
          }
        }.reduce(_ + _)
      })
    }

    // 13. concurrency curve with the r8 bounded driver-side day carry:
    // rows scale with k AND the day span grows 40 days per copy, so the
    // minute aggregation must stay ~linear while the carry collect stays
    // a bounded (calendar-sized) driver cost — the shape that replaced
    // the catalog's last unpartitioned window
    if (on("concurrency")) {
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      record("concurrency")(timeMin(3, spark) {
        val mins = events.select(expr("CAST(ts AS LONG) div 60").as("m"))
        val deltas = mins.select(col("m"), lit(1L).as("d"))
          .unionAll(mins.select((col("m") + 30).as("m"), lit(-1L).as("d")))
        val perMin = deltas.groupBy(col("m")).agg(sum("d").as("d"))
          .withColumn("day", expr("m div 1440"))
        val within = perMin.withColumn("cum", sum("d").over(
          Window.partitionBy(col("day")).orderBy(col("m"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val dayTot = deltas.groupBy(expr("m div 1440").as("day"))
          .agg(sum("d").as("dt")).orderBy(col("day")).limit(4097).collect()
        require(dayTot.length <= 4096, s"day span ${dayTot.length} exceeds the carry bound")
        var acc = 0L
        val carry = dayTot.toSeq.map { r =>
          val c = acc; acc += r.getLong(1); (r.getLong(0), c)
        }.toDF("day", "cin")
        within.join(broadcast(carry), "day")
          .agg(max(col("cum") + col("cin"))).collect()
      })
    }

    // 14. persisted-frame DELTA maintenance (r9, CorpusIndex/H66): the
    // base token store grows with k while the DELTA stays fixed, and —
    // per the Config contract that one bucket stays batch-sized at
    // scale — the bucket count grows with the corpus (8k). The timed
    // append (tokenize delta → touched-bucket read-modify-write → CAS
    // commit) must then stay ~FLAT in base size: the
    // O(delta × bucket)-not-O(corpus) claim behind incremental index
    // maintenance at 100 TB. Each timed run commits a real new version.
    if (on("token_delta")) {
      val root = java.nio.file.Files.createTempDirectory("graft_tokdelta").toString
      val cfgK = graft.streaming.StateStore.Config(buckets = 8 * k)
      val srcDocs = docs.withColumn("source", lit("s"))
      graft.ext.CorpusIndex.buildTokens(spark, root, srcDocs, cfg = cfgK) // untimed base
      val delta = srcDocs.filter(col("doc_id") < 200)
        .withColumn("text", concat(col("text"), lit(" delta tail")))
        .localCheckpoint(true)
      record("token_delta")(timeMin(3, spark) {
        graft.ext.CorpusIndex.appendTokenDocs(spark, root, delta, cfg = cfgK)
      })
    }

    // 14b. the MIXED maintenance commit (r9, tombstone channel): one
    // version that upserts a fixed 200-doc delta AND retracts a fixed
    // 200-doc tombstone set against the k-scaled base. Deletes ride the
    // same touched-bucket read-modify-write as upserts, so the timed
    // commit must track token_delta's curve — a divergence would mean
    // the retraction path hides a corpus-size term.
    if (on("token_retract")) {
      val root = java.nio.file.Files.createTempDirectory("graft_tokretract").toString
      val cfgK = graft.streaming.StateStore.Config(buckets = 8 * k)
      val srcDocs = docs.withColumn("source", lit("s"))
      graft.ext.CorpusIndex.buildTokens(spark, root, srcDocs, cfg = cfgK) // untimed base
      val delta = srcDocs.filter(col("doc_id") < 200)
        .withColumn("text", concat(col("text"), lit(" delta tail")))
        .localCheckpoint(true)
      val dels = srcDocs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
        .select(col("doc_id")).localCheckpoint(true)
      record("token_retract")(timeMin(3, spark) {
        graft.ext.CorpusIndex.appendTokenDocs(spark, root, delta, Some(dels), cfg = cfgK)
      })
    }

    // 15. the IVF twin: frozen-centroid delta assignment + code upsert
    // against a base assignment store that grows with k (buckets scale
    // alongside). Same flatness contract as token_delta.
    if (on("ivf_delta")) {
      val emb = Tables.embeddings(spark, dir)
        .withColumn("i", explode(array((0 until k).map(lit): _*)))
        .select(
          (col("vec_id") + col("i").cast("long") * 10000000L).as("vec_id"),
          transform(col("embedding"), (x, d) =>
            (x + col("i").cast("float") * lit(0.001f) * (d % 3).cast("float"))
              .cast("float")).as("v"))
        .withColumn("nrm", sqrt(aggregate(
          transform(col("v"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (a, x) => a + x)))
        .repartition(32).localCheckpoint(true)
      val root = java.nio.file.Files.createTempDirectory("graft_ivfdelta").toString
      val cfgK = graft.streaming.StateStore.Config(buckets = 8 * k)
      graft.ext.VectorIndex.trainIvf(spark, root, emb, cfg = cfgK) // untimed base
      // FIXED-size delta (copy-0 originals only), offset to fresh ids
      val deltaE = emb.filter(col("vec_id") < 200)
        .select((col("vec_id") + 900000000000L).as("vec_id"), col("v"), col("nrm"))
        .localCheckpoint(true)
      record("ivf_delta")(timeMin(3, spark) {
        graft.ext.VectorIndex.appendIvf(spark, root, deltaE, cfg = cfgK)
      })
    }

    val json = out.map { case (fam, t) => s""""$fam":$t""" }.mkString("{", ",", "}")
    println(s"""{"k":$k,"families":$json,"sf":"$dir"}""")
    spark.stop()
  }
}
