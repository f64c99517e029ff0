package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Store files have one reader, Spark's own: no main source under
  * `graft/sources` or `graft/streaming` reads parquet through parquet-mr's
  * row-level Group API. The `graft.ext` parquet readers are the subject of
  * catalog queries of their own, so they are out of scope.
  */
class ReaderScanSpec extends AnyFunSuite with Matchers {

  private val secondReader =
    raw"org\.apache\.parquet\.hadoop\.example|GroupReadSupport|ParquetReader\.builder".r
  private val graft = Paths.get("src", "main", "scala", "graft")

  private def scalaFiles(dir: String): Seq[Path] =
    Files.walk(graft.resolve(dir)).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def reads(p: Path): Boolean =
    secondReader.findFirstIn(Files.readString(p)).nonEmpty

  test("no store source or streaming main source hand-rolls a parquet reader") {
    val scanned = scalaFiles("sources") ++ scalaFiles("streaming")
    scanned.size should be > 10
    // the scan sees the out-of-scope reader, so a miss is not a blind pattern
    scalaFiles("ext").filter(reads) should not be empty
    scanned.filter(reads) shouldBe empty
  }
}
