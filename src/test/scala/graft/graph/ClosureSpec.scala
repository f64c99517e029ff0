package graft.graph

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import graft.SparkSpec

/** Unit coverage for [[GraphOps.ancestorsClosure]] — the multi-hop
  * traversal behind q_ancestors_closure. The declared query's oracle only
  * sees the halving tree; these pin the general contract: depth counting
  * on chains, min-depth on diamond DAGs (two paths to one ancestor),
  * duplicate edges, and the cycle guard.
  */
class ClosureSpec extends AnyFunSuite with SparkSpec with Matchers {
  import spark.implicits._

  private def closure(edges: Seq[(Long, Long)], maxDepth: Int = 64): Set[(Long, Long, Int)] =
    GraphOps.ancestorsClosure(edges.toDF("c", "p"), "c", "p", maxDepth)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** Run `f` with the one-task fallback disabled, so the BFS join
    * dataflow is the path under test.
    */
  private def forceDistributed[A](f: => A): A = {
    spark.conf.set("spark.graft.closure.localEdgeLimit", "0")
    try f finally spark.conf.unset("spark.graft.closure.localEdgeLimit")
  }

  /** Both execution paths must agree — the one-task twin mirrors the
    * frontier iteration literally.
    */
  private def bothPaths(edges: Seq[(Long, Long)], maxDepth: Int = 64): Set[(Long, Long, Int)] = {
    val local = closure(edges, maxDepth)
    forceDistributed(closure(edges, maxDepth)) shouldBe local
    local
  }

  test("a chain yields every ancestor with its hop count") {
    bothPaths(Seq((3L, 2L), (2L, 1L), (1L, 0L))) shouldBe Set(
      (3L, 2L, 1), (3L, 1L, 2), (3L, 0L, 3),
      (2L, 1L, 1), (2L, 0L, 2),
      (1L, 0L, 1))
  }

  test("a diamond DAG reports the SHORTEST path to a shared ancestor") {
    // 4 -> {3, 2}, 3 -> 2: node 2 reachable from 4 at depth 1 and 2
    bothPaths(Seq((4L, 3L), (4L, 2L), (3L, 2L))) shouldBe Set(
      (4L, 3L, 1), (4L, 2L, 1), (3L, 2L, 1))
  }

  test("duplicate edges do not duplicate closure rows") {
    bothPaths(Seq((2L, 1L), (2L, 1L))) shouldBe Set((2L, 1L, 1))
  }

  test("a cycle throws instead of looping or truncating silently, both paths") {
    an[IllegalArgumentException] should be thrownBy
      closure(Seq((1L, 2L), (2L, 1L)), maxDepth = 8)
    an[IllegalArgumentException] should be thrownBy
      forceDistributed(closure(Seq((1L, 2L), (2L, 1L)), maxDepth = 8))
  }

  test("an empty edge set yields an empty closure in both variants") {
    bothPaths(Seq.empty) shouldBe Set.empty
  }

  test("a chain of diamonds matches a BFS reference (no 2^depth frontier blow-up)") {
    // x_i -> {a_i, b_i} -> x_{i+1}: 2^k paths from x_0 to x_k; the
    // per-round distinct() must keep the frontier at |newly reachable
    // pairs| while the final min-agg keeps depths shortest-path
    val k = 10
    val edges = (0 until k).flatMap { i =>
      val x = 3L * i; val a = x + 1; val b = x + 2; val nx = 3L * (i + 1)
      Seq((x, a), (x, b), (a, nx), (b, nx))
    }
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def bfs(src: Long): Map[Long, Int] = {
      var dist = Map(src -> 0)
      var q = scala.collection.immutable.Queue(src)
      while (q.nonEmpty) {
        val (u, rest) = q.dequeue; q = rest
        for (v <- adj.getOrElse(u, Nil) if !dist.contains(v)) {
          dist += v -> (dist(u) + 1); q = q.enqueue(v)
        }
      }
      dist - src
    }
    val expect = edges.map(_._1).distinct
      .flatMap(s => bfs(s).map { case (p, d) => (s, p, d) }).toSet
    bothPaths(edges) shouldBe expect
  }
}
