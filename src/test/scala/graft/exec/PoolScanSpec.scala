package graft.exec

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Driver-side concurrency lives in `graft/exec` only: no other main source
  * builds its own thread pool. `Bench.scala`'s warm-up pool is the one
  * exception, because the harness main is frozen.
  */
class PoolScanSpec extends AnyFunSuite with Matchers {

  private val poolMaking = raw"Executors\.new|ExecutionContext\.from|new\s+ForkJoinPool".r
  private val main = Paths.get("src", "main", "scala")
  private val allowed = Seq(main.resolve("graft/exec"), main.resolve("graft/Bench.scala"))

  test("no main source outside graft/exec builds a thread pool") {
    val sources = Files.walk(main).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    sources.size should be > 50
    def pools(p: Path): Boolean = poolMaking.findFirstIn(Files.readString(p)).nonEmpty
    // the scan sees the pools it allows, so a miss is not a blind pattern
    sources.filter(p => allowed.exists(p.startsWith)).filter(pools) should not be empty
    sources.filterNot(p => allowed.exists(p.startsWith)).filter(pools) shouldBe empty
  }
}
