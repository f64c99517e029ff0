package graft.temporal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed exact selection (k-th smallest) over a LONG column — the
  * scale path for percentiles over FEW HUGE groups, where the per-group
  * window sort of [[graft.queries.CoreQueries.q_percentiles]] would sort
  * a whole group on one reducer (H19's skew note).
  *
  * Recursive histogram narrowing, the textbook distributed selection:
  * each level runs ONE aggregation that buckets the candidate value
  * range into `nBuckets` fixed-width cells and collects <= nBuckets
  * (bucket, count) rows to the driver; a cumulative scan locates the
  * cell holding rank k, and the search recurses into that cell only.
  * The candidate set shrinks by ~nBuckets x per level — value range 2^63
  * needs <= 5 levels at 4096 buckets — and when the remaining count fits
  * `directLimit`, one TakeOrdered (limit k', never a global sort)
  * finishes exactly. Total cost: O(levels) scans, zero shuffles of the
  * data, driver memory O(nBuckets).
  *
  * ALL requested ranks ride one recursion: ranks still sharing a
  * candidate range at some level resolve against that level's single
  * histogram (a p50/p90/p99 probe scans each level once, not once per
  * rank), and only where ranks diverge into different cells does the
  * search fan out.
  */
object Selection {

  /** The k-th smallest value (1-based rank, ties collapse naturally —
    * the k-th smallest VALUE is well-defined whatever the tie order) for
    * each rank in `ks`, positionally. Ranks outside [1, count] throw.
    */
  def kthSmallest(df: DataFrame, valueCol: String, ks: Seq[Long],
      nBuckets: Int = 4096, directLimit: Long = 65536): Seq[Long] =
    kthSmallestBy(df, valueCol, _ => ks, nBuckets, directLimit)._2

  /** As [[kthSmallest]], but the ranks are a function of the row count —
    * percentile callers derive ranks from `n` without paying a separate
    * `count()` job (the count rides the min/max head aggregation).
    * Returns `(n, values)`.
    */
  def kthSmallestBy(df: DataFrame, valueCol: String, ksOf: Long => Seq[Long],
      nBuckets: Int = 4096, directLimit: Long = 65536): (Long, Seq[Long]) = {
    val v = col(valueCol)
    val base = df.select(v.as("v")).where(v.isNotNull)
    val head = base.agg(min(col("v")), max(col("v")), count(lit(1))).head()
    val n = head.getLong(2)
    // empty (or all-NULL) input: no rank exists — callers get (0, empty)
    // and decide their own empty-output shape (routine at 100 TB scale)
    if (n == 0) return (0L, Seq.empty)
    val (lo0, hi0) = (head.getLong(0), head.getLong(1))
    val ks = ksOf(n)
    ks.foreach(k => require(k >= 1 && k <= n, s"rank $k outside [1, $n]"))
    // a range wider than 2^63 (full-range longs, e.g. raw hashes) would
    // overflow the width arithmetic below — fail loudly, don't mis-bucket
    require(hi0 - lo0 >= 0,
      s"value range [$lo0, $hi0] exceeds 2^63 — shift/scale the column first")

    // One search step over a candidate cell [lo, hi] holding `cnt` rows:
    // either resolves its ranks (Left) or narrows them into sub-cells
    // (Right). Ranks carry their position in `ks` so the cells can
    // resolve in any order and still return values positionally.
    def step(c: Cell): Either[Seq[(Int, Long)], Seq[Cell]] =
      if (c.lo == c.hi) {
        // a single-value range answers every rank with no job at all — a
        // hot value owning billions of rows must NOT fall through to the
        // TakeOrdered (whose driver collect is bounded by directLimit,
        // not by a duplicate-heavy cell's count)
        Left(c.ranks.map { case (_, i) => i -> c.lo })
      } else if (c.cnt <= directLimit) {
        // small candidate set: ONE TakeOrdered up to the largest wanted
        // rank serves every rank in the range (limit is driver-bounded by
        // directLimit; the plan is a top-k, never a sort of the full frame)
        val maxK = c.ranks.map(_._1).max
        val vals = base.where(col("v").between(c.lo, c.hi)).orderBy(col("v"))
          .limit(maxK.toInt).collect().map(_.getLong(0))
        Left(c.ranks.map { case (k, i) => i -> vals(k.toInt - 1) })
      } else {
        val (lo, hi) = (c.lo, c.hi)
        // ceil division keeps bucket count <= nBuckets over any range
        val width = math.max(1L, (hi - lo) / nBuckets + 1)
        // integral `div`, NOT `/`: Spark's `/` on longs is DOUBLE division,
        // which above 2^53 rounds differently from the exact long ranges
        // the recursion filters by — a boundary row would be counted in
        // one bucket and searched in another (silent wrong answer)
        val hist = base.where(col("v").between(lo, hi))
          .groupBy(expr(s"(v - ${lo}L) div ${width}L").as("b"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
        // prefix(j) = rows in buckets before hist(j); rank k lives in the
        // first bucket with prefix < k <= prefix + count
        val prefix = hist.scanLeft(0L)(_ + _._2)
        val grouped = c.ranks.groupBy { case (k, _) =>
          val j = prefix.search(k) match {
            case scala.collection.Searching.Found(idx) => idx - 1
            case scala.collection.Searching.InsertionPoint(idx) => idx - 1
          }
          assert(j >= 0 && j < hist.length && k <= prefix(j) + hist(j)._2,
            "histogram counts did not cover rank — concurrent mutation?")
          j
        }
        Right(grouped.toSeq.map { case (j, rs) =>
          val (b, cnt) = hist(j)
          // the top cell's raw upper bound lo + (b+1)*width - 1 can exceed
          // Long.MaxValue when the range is near 2^63 (width is ceil'd, so
          // (b+1)*width overshoots hi-lo by up to nBuckets) — exact
          // arithmetic, clamped to hi on overflow
          val cellHi = try {
            math.min(hi, Math.addExact(lo, Math.multiplyExact(b + 1, width) - 1))
          } catch { case _: ArithmeticException => hi }
          Cell(lo + b * width, cellHi, rs.map { case (k, i) => (k - prefix(j), i) }, cnt)
        })
      }

    // Level by level: the cells the ranks diverged into at one level are
    // independent range scans, overlapped through graft.exec's gate
    var frontier = Seq(Cell(lo0, hi0, ks.zipWithIndex, n))
    val resolved = Seq.newBuilder[(Int, Long)]
    while (frontier.nonEmpty) {
      val (done, next) = graft.exec.all(df.sparkSession)(frontier.map(c => () => step(c)))
        .partitionMap(identity)
      resolved ++= done.flatten
      frontier = next.flatten
    }
    (n, resolved.result().sortBy(_._1).map(_._2))
  }

  /** A candidate value range [lo, hi] of `cnt` rows and the ranks, relative
    * to the cell, it must still resolve (each with its position in `ks`).
    */
  private final case class Cell(lo: Long, hi: Long, ranks: Seq[(Long, Int)], cnt: Long)
}
