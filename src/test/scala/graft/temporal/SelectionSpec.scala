package graft.temporal

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

/** Distributed selection vs the sorted reference: exact on every rank,
  * including duplicate-heavy and adversarially narrow value ranges, with
  * recursion forced by tiny directLimit/nBuckets so the histogram path
  * (not the TakeOrdered base case) is what's proven.
  */
class SelectionSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private def check(values: Seq[Long], ks: Seq[Long],
      nBuckets: Int, directLimit: Long): Unit = {
    val df = values.toDF("v").repartition(8)
    val sorted = values.sorted
    val got = Selection.kthSmallest(df, "v", ks, nBuckets, directLimit)
    got shouldBe ks.map(k => sorted((k - 1).toInt))
  }

  test("matches the sorted reference on seeded data, recursion forced") {
    val rnd = new scala.util.Random(42)
    val values = Seq.fill(5000)(rnd.nextLong() % 1000000L)
    check(values, Seq(1L, 2500L, 4999L, 5000L), nBuckets = 16, directLimit = 32)
  }

  test("duplicate-heavy values (one hot value dominating) stay exact") {
    val values = Seq.fill(4000)(7L) ++ (1L to 1000L)
    check(values, Seq(1L, 3999L, 4001L, 5000L), nBuckets = 8, directLimit = 16)
  }

  test("narrow range (all values in one bucket width) terminates via lo==hi") {
    val values = Seq.fill(2000)(5L) ++ Seq.fill(1000)(6L)
    check(values, Seq(1L, 2000L, 2001L, 3000L), nBuckets = 4096, directLimit = 8)
  }

  test("negative and mixed-sign ranges") {
    val values = (-500L to 499L).toSeq
    check(values, Seq(1L, 500L, 501L, 1000L), nBuckets = 16, directLimit = 16)
    // nearest-rank convention sanity: p50 of 1000 rows is rank 500
  }

  test("values beyond 2^53 bucket exactly (integral division, not double)") {
    // range ~2^61: double division of (v - lo) by the bucket width rounds
    // differently from exact long arithmetic up here — the histogram and
    // the recursion's range filter must agree bit-exactly
    val bigBase = 1L << 60
    val values = (0L until 3000L).map(i => bigBase + i * ((1L << 50) + 7))
    check(values, Seq(1L, 1500L, 2999L, 3000L), nBuckets = 8, directLimit = 64)
  }

  test("range hugging Long.MaxValue: top-cell bound clamps instead of wrapping") {
    // hi within a few bucket widths of 2^63-1 with lo > 0: the raw cell
    // upper bound lo + (b+1)*width - 1 overflows Long (the ceil'd width
    // overshoots hi-lo by up to nBuckets); the exact-arithmetic clamp
    // must keep ranks in the TOP cell findable
    val hi = Long.MaxValue
    val values = Seq(10L, 1000L, hi - 2, hi - 1, hi)
    check(values, Seq(1L, 3L, 4L, 5L), nBuckets = 4, directLimit = 2)
  }

  test("a duplicate-heavy single-value cell resolves without a driver collect blow-up") {
    // one hot value holds ranks far past directLimit: the lo == hi branch
    // must answer from the range itself (collecting rank-k rows to the
    // driver was the reviewed failure mode)
    val values = Seq.fill(50000)(7L) ++ Seq(1L, 999999L)
    check(values, Seq(2L, 25000L, 50001L, 50002L), nBuckets = 8, directLimit = 16)
  }

  test("wide rank fan-out (many diverged cells resolved concurrently) stays exact") {
    // 16 ranks spread across the whole range with tiny buckets: after the
    // first histogram level every rank lands in its own cell, so the
    // concurrent per-cell sub-searches (r14: the fan-out overlaps
    // independent range scans) must return positionally-exact values
    val rnd = new scala.util.Random(7)
    val values = Seq.fill(8000)(rnd.nextLong() % 100000000L)
    val ks = (1 to 16).map(i => (i * 500L) - 250L)
    check(values, ks, nBuckets = 16, directLimit = 8)
  }

  test("a long rank list stays exact and scans at most 4 cells at once") {
    // 48 ranks diverge into their own cells within two levels and stay
    // apart for several more: each level's cells are scanned through
    // graft.exec's gate (4 wide in this local[4] session), not all at once.
    // Concurrent jobs are sampled from the status tracker (a lagging view,
    // so never above the true peak).
    val rnd = new scala.util.Random(11)
    val values = Seq.fill(6000)(rnd.nextLong() % 1000000000L)
    val ks = (1 to 48).map(i => i * 125L - 60L)
    val tracker = spark.sparkContext.statusTracker
    @volatile var running = true
    @volatile var peak = 0
    val sampler = new Thread(() =>
      while (running) {
        peak = math.max(peak, tracker.getActiveJobIds().length)
        Thread.sleep(2)
      })
    sampler.start()
    try check(values, ks, nBuckets = 4, directLimit = 16)
    finally { running = false; sampler.join() }
    peak should be <= 4
  }

  test("out-of-range rank throws") {
    val df = (1L to 10L).toDF("v")
    an[IllegalArgumentException] should be thrownBy
      Selection.kthSmallest(df, "v", Seq(0L))
    an[IllegalArgumentException] should be thrownBy
      Selection.kthSmallest(df, "v", Seq(11L))
  }
}
