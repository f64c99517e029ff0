package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSql
import graft.state.{Merge, Upserts}
import graft.state.Merge.MergeCols

/** Graph traversals and the cascading temporal expiration
  * (SURVEY.md §2.C7-C11).
  *
  * All ops are equi-joins over the vertex/edge snapshot tables — at scale
  * they shuffle on the join key; the edge tables should be persisted
  * partitioned/bucketed on those keys so repeated traversals avoid
  * re-shuffling.
  */
object GraphOps {

  /** C9 — incoming edges: parents of each asset.
    * Reference: inventory/inventory.go:499-524.
    */
  def parents(parentOf: DataFrame, assets: DataFrame): DataFrame =
    parentOf.alias("e")
      .join(assets.alias("a"), col("e.child_id") === col("a.id"))

  /** C10 — outgoing edges: children of each asset.
    * Reference: inventory/inventory.go:574-599.
    */
  def children(parentOf: DataFrame, assets: DataFrame): DataFrame =
    parentOf.alias("e")
      .join(assets.alias("a"), col("e.parent_id") === col("a.id"))

  /** C11 — owners-of-asset expansion: owns edge joined to team vertex.
    * Reference: inventory/inventory.go:603-628; main_test.go:503-519.
    */
  def owners(owns: DataFrame, teams: DataFrame): DataFrame =
    owns.alias("o")
      .join(teams.alias("tm"), col("o.team_id") === col("tm.id"))

  /** Multi-hop extension of C9: the transitive ANCESTOR closure of a
    * child→parent edge set — (desc, anc, depth) for every ancestor
    * reachable in >= 1 hop, depth = shortest hop count (DAGs may reach an
    * ancestor along several paths).
    *
    * Frontier BFS: each round joins the current frontier to the edge set
    * (equi-join on the parent key — shuffles co-partition both sides) and
    * unions it into the accumulator; rounds = hierarchy height, which for
    * org/asset trees is small and bounded. Every frontier is eagerly
    * localCheckpoint'ed so the iterative lineage stays flat (the
    * accumulator's plan is a union of <= maxDepth checkpointed leaves,
    * not a recursively deepening tree).
    *
    * @param maxDepth hard stop — a non-empty frontier at maxDepth means a
    *        cycle (or a deeper graph than the caller vouched for); throws
    *        rather than emitting a silently truncated closure.
    */
  /** One-task twin of the BFS closure for graphs under
    * `spark.graft.closure.localEdgeLimit` (long ids only): the SAME
    * frontier iteration — per-round distinct, no visited-set subtraction,
    * min-depth fold, throw on a frontier alive at maxDepth — executed in
    * memory, where height-many rounds of join dataflow are pure
    * scheduling latency. Work and memory match the dataflow's own
    * materialized sets (frontier and accumulator are identical round for
    * round), so the gate bounds both paths the same way.
    */
  private def closureLocal(e: DataFrame, maxDepth: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val out = e.as[(Long, Long)].repartition(1).mapPartitions { it =>
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      val init = scala.collection.mutable.HashSet.empty[(Long, Long)]
      it.foreach { case (c, p) =>
        adj.getOrElseUpdate(c, scala.collection.mutable.ArrayBuffer.empty) += p
        init += ((c, p))
      }
      val acc = scala.collection.mutable.HashMap.empty[(Long, Long), Int]
      var frontier: scala.collection.Set[(Long, Long)] = init
      init.foreach(k => acc(k) = 1)
      var depth = 1
      while (frontier.nonEmpty && depth < maxDepth) {
        val next = scala.collection.mutable.HashSet.empty[(Long, Long)]
        frontier.foreach { case (c, p) =>
          adj.get(p).foreach(_.foreach(p2 => next += ((c, p2))))
        }
        depth += 1
        next.foreach { k =>
          val d = acc.getOrElse(k, depth)
          acc(k) = math.min(d, depth)
        }
        frontier = next
      }
      require(frontier.isEmpty,
        s"ancestor closure still expanding at depth $maxDepth — cycle or deeper graph?")
      acc.iterator.map { case ((c, p), d) => (c, p, d) }
    }.toDF("c", "p", "depth")
    // eager materialization; a task-side require arrives wrapped in
    // SparkException — unwrap so the caller-facing contract (an
    // IllegalArgumentException on cycles/too-deep) matches the dataflow
    try out.localCheckpoint(true)
    catch {
      case ex: Throwable =>
        Iterator.iterate(ex.getCause)(_.getCause).takeWhile(_ != null)
          .collectFirst { case iae: IllegalArgumentException => iae }
          .foreach(iae => throw new IllegalArgumentException(iae.getMessage))
        throw ex
    }
  }

  def ancestorsClosure(edges: DataFrame, childCol: String, parentCol: String,
      maxDepth: Int = 64): DataFrame = {
    val e = edges.select(col(childCol).as("c"), col(parentCol).as("p"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the edge set is joined once per ROUND: when it fits a broadcast,
    // every round becomes a shuffle-free map-side join (height × shuffle
    // scheduling overhead was the measured cost of the whole closure);
    // the count doubles as the persist's eager barrier
    val eCount = e.count()
    val longIds = e.schema("c").dataType == org.apache.spark.sql.types.LongType &&
      e.schema("p").dataType == org.apache.spark.sql.types.LongType
    if (longIds && eCount <=
        e.sparkSession.conf.get("spark.graft.closure.localEdgeLimit", "200000").toLong) {
      val local = closureLocal(e, maxDepth)
      e.unpersist()
      return local
    }
    val eJoin = if (eCount <= 100000) broadcast(e) else e
    var frontier = GraftSql.localCheckpointMeasuredStats(
      e.select(col("c"), col("p"), lit(1).as("depth")))
    var acc = frontier
    var depth = 1
    while (!frontier.isEmpty && depth < maxDepth) {
      frontier = frontier.as("f").join(eJoin.as("n"), col("f.p") === col("n.c"))
        .select(col("f.c").as("c"), col("n.p").as("p"), (col("f.depth") + 1).as("depth"))
        // path multiplicity control — without it a chain of diamonds
        // doubles the frontier per level (2^depth rows for ONE reachable
        // pair, since every path through a diamond chain has EQUAL length
        // and all duplicates land in the SAME round). distinct() bounds
        // each round at |pairs reachable at this depth|; rediscovery of a
        // pair along a LONGER path in a later round still happens but is
        // polynomial (<= pairs x distinct path lengths), and the final
        // min-agg keeps depth = shortest. An anti-join against an
        // accumulated visited set would ALSO prune cross-round rediscovery
        // (and make cyclic graphs converge) but costs a join per round —
        // measured 2.5x the whole closure's wall time, so distinct() it is.
        .distinct()
      frontier = GraftSql.localCheckpointMeasuredStats(frontier)
      acc = acc.union(frontier)
      depth += 1
    }
    // cycle detection: with per-round distinct(), a cycle NEVER converges —
    // pairs rediscover at ever-increasing depths, so the frontier stays
    // non-empty until maxDepth. "Frontier empty" therefore already implies
    // an acyclic reachable subgraph, and a separate reached-itself probe
    // would be an unreachable extra Spark job (ADVICE r4).
    val stillExpanding = !frontier.isEmpty
    e.unpersist()
    require(!stillExpanding,
      s"ancestor closure still expanding at depth $maxDepth — cycle or deeper graph?")
    // the min-agg is LOAD-BEARING, not an invariant check: acc holds the
    // same (c, p) at several depths whenever a pair is rediscovered along
    // a longer path in a later round; min keeps the shortest
    acc.groupBy(col("c"), col("p")).agg(min(col("depth")).as("depth"))
  }

  /** C7 — per-asset active-owner quantifier: does ANY active owns edge
    * (end_time null) of a team OTHER than the tombstoning team exist?
    * Reference: main.go:299-323.
    *
    * @param tombstones (asset_id, team_id) pairs being expired
    * @return tombstone rows + `other_active` boolean
    */
  def otherActiveOwnerExists(owns: DataFrame, tombstones: DataFrame): DataFrame = {
    val active = owns.filter(col("end_time").isNull)
      .select(col("asset_id"), col("team_id").as("owner_team"))
    tombstones.alias("tb")
      .join(active.alias("ac"),
        col("tb.asset_id") === col("ac.asset_id") &&
          col("tb.team_id") =!= col("ac.owner_team"),
        "left_outer")
      .groupBy(col("tb.asset_id").as("asset_id"), col("tb.team_id").as("team_id"))
      .agg(max(col("ac.owner_team").isNotNull).as("other_active"))
  }

  /** Snapshot bundle threaded through the cascade. */
  final case class State(assets: DataFrame, teams: DataFrame,
                         owns: DataFrame, parentOf: DataFrame)

  /** Result of a tracked cascade: the new state and the persisted
    * intermediates its plans reference. Call [[release]] once the state
    * has been materialized (written / checkpointed) — before that,
    * unpersisting would force the shared subtrees to recompute on next
    * use.
    */
  final case class Cascade(state: State, cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** C8 — cascading expiration for a batch of tombstones
    * (reference: main.go:270-364). Semantics, in order (SURVEY.md §7.4):
    *
    *  1. tombstones for a nonexistent asset OR nonexistent team are silent
    *     no-ops (main.go:276-279, 289-292);
    *  2. the tombstoning team's owns edge gets end_time = now, start_time
    *     preserved;
    *  3. the active-owner quantifier is evaluated AFTER all owns updates of
    *     the batch (set-at-a-time equivalent of sequential processing);
    *  4. assets with no remaining active owner get last_seen = expiration
    *     = now;
    *  5. every not-yet-expired parent_of edge touching an expired asset —
    *     both directions — gets first_seen kept, last_seen = expiration =
    *     now; edges with expiration <= now are skipped (main.go:338-340).
    *
    * @param tombstones (asset_type, asset_identifier, team_identifier, ts)
    *                   — `ts` is each tombstone's processing time (the
    *                   set-at-a-time analog of the reference's per-event
    *                   `time.Now()`)
    *
    * Returns the persisted intermediates with the state: `owns2` and
    * `deadAssets` are each referenced by several downstream plans
    * (quantifier, assets merge, both parent_of join directions) and Spark
    * does no cross-reference CSE — without the persists the whole
    * resolve→expire-owns→quantifier join tree re-executes per reference
    * (measured ~3-4x on the cascade queries). They stay cached until
    * `release()` (as Pipeline.fold calls after checkpointing) or the
    * session's `clearCache()`.
    */
  def expireCascadeTracked(st: State, tombstones: DataFrame): Cascade = {
    // 1. resolve asset + team; drop no-ops. Per (asset, team): `ts` is
    //    that team's LAST tombstone in the batch (repeated tombstones
    //    re-stamp the owns end_time, last write wins — reference
    //    semantics), `first_ts` its FIRST (what the death-time rule
    //    below needs)
    val resolved = tombstones.alias("tb")
      .join(st.assets.alias("a"),
        col("tb.asset_type") === col("a.type") &&
          col("tb.asset_identifier") === col("a.identifier"), "inner")
      .join(st.teams.alias("tm"),
        col("tb.team_identifier") === col("tm.identifier"), "inner")
      .select(col("a.id").as("asset_id"), col("tm.id").as("team_id"), col("tb.ts").as("ts"))
      .groupBy(col("asset_id"), col("team_id"))
      .agg(max("ts").as("ts"), min("ts").as("first_ts"))
      .persist() // tombstone-sized; referenced by owns2, quant and deadAssets

    // 2. expire this team's owns edges (update-only; end_time = that
    //    team's last tombstone ts)
    val owns2 = Upserts.expireOwns(st.owns, resolved.select("asset_id", "team_id", "ts"))
      .persist()

    // 3. quantifier over the POST-update owns state
    val quant = otherActiveOwnerExists(owns2, resolved.select("asset_id", "team_id"))

    // 4. expire assets with no other active owner. Sequential semantics
    //    need TWO timestamps per dead asset:
    //    - death_first: when the asset FIRST dies — the tombstone that
    //      completes coverage of its pre-batch active-owner set O (each
    //      O member's first tombstone has happened; max of those
    //      first_ts), or the batch's first resolved tombstone when O is
    //      already empty. This is when parent edges expire — every
    //      LATER killing tombstone sees them already expired and skips
    //      (main.go:338-340's `expiration <= now` guard).
    //    - death_last: the LAST resolved tombstone's ts — each killing
    //      tombstone re-stamps the asset's last_seen/expiration, so the
    //      final asset row carries the last one (reference re-expires
    //      unconditionally once no owner remains).
    //    The old single max-ts death was differentially refuted on
    //    parent-edge expiry by within-batch tombstone runs
    //    (DifferentialReplaySpec seed 5 at 40% tombstones).
    val deadIds = quant.filter(!col("other_active"))
      .select(col("asset_id")).distinct()
    val preActive = st.owns.filter(col("end_time").isNull)
      .select(col("asset_id"), col("team_id"))
    // dead => O is covered by the resolved teams, so the inner joins are
    // total over O's members
    val coverage = deadIds.join(preActive, "asset_id")
      .join(resolved.select("asset_id", "team_id", "first_ts"), Seq("asset_id", "team_id"))
      .groupBy(col("asset_id"))
      .agg(max("first_ts").as("cover_ts"))
    val deadAssets = deadIds.join(resolved, "asset_id")
      .groupBy(col("asset_id"))
      .agg(min("first_ts").as("min_ts"), max("ts").as("death_last"))
      .join(coverage, Seq("asset_id"), "left")
      .select(col("asset_id"),
        coalesce(col("cover_ts"), col("min_ts")).as("death_first"),
        col("death_last"))
      .persist()
    // update-only: dead assets always resolve to existing rows, and an
    // accidental insert would create a phantom vertex
    // unmapped columns (type/identifier/first_seen) keep their existing
    // values by the update-only merge's default resolution
    val assets2 = Merge.mergeUpdateOnly(
      st.assets,
      deadAssets.select(col("asset_id").as("id"),
        col("death_last").as("last_seen"), col("death_last").as("expiration")),
      Seq("id"),
      Map(
        "last_seen" -> ((c: MergeCols) => when(c.matched, c.update).otherwise(c.existing)),
        "expiration" -> ((c: MergeCols) => when(c.matched, c.update).otherwise(c.existing))))

    // 5. expire not-yet-expired parent_of edges in BOTH directions,
    //    skipping edges with expiration <= the death time (main.go:338-340).
    //    Sequentially the FIRST death touching an edge expires it; a later
    //    death sees expiration <= now and skips → min(death_ts) wins.
    // Two equi-joins unioned instead of one OR-join: an OR predicate
    // would force a nested-loop join; two hash joins stay shuffle/
    // broadcast hash joins at any scale.
    val asParent = st.parentOf.alias("e")
      .join(deadAssets.alias("d"), col("e.parent_id") === col("d.asset_id"))
    val asChild = st.parentOf.alias("e")
      .join(deadAssets.alias("d"), col("e.child_id") === col("d.asset_id"))
    val touched = asParent.unionByName(asChild)
      .filter(col("e.expiration") > col("d.death_first"))
      .groupBy(col("e.parent_id").as("parent_id"), col("e.child_id").as("child_id"))
      .agg(min(col("d.death_first")).as("exp_ts"))
    val parentOf2 = Merge.mergeUpdateOnly(st.parentOf,
      touched.select(col("parent_id"), col("child_id"),
        col("exp_ts").as("last_seen"), col("exp_ts").as("expiration")),
      Seq("parent_id", "child_id"), Map(
        "last_seen" -> ((c: MergeCols) => when(c.matched, c.update).otherwise(c.existing)),
        "expiration" -> ((c: MergeCols) => when(c.matched, c.update).otherwise(c.existing))))

    Cascade(State(assets2, st.teams, owns2, parentOf2), Seq(resolved, owns2, deadAssets))
  }
}
