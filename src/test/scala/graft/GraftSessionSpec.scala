package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The canonical session config must actually be live in every harness
  * session — a silently-dropped flag here would shift temporal results
  * (timeZone), break nanosecond parquet scans, or un-pin the AQE/pushdown
  * behavior the operators' scale design assumes.
  */
class GraftSessionSpec extends AnyFunSuite with SparkSpec with Matchers {
  test("canonical engine config is live in the shared session") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
    spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") shouldBe "true"
    spark.conf.get("spark.sql.adaptive.skewJoin.enabled") shouldBe "true"
    spark.conf.get("spark.sql.parquet.filterPushdown") shouldBe "true"
  }

  test("the generated-class cache is pinned above the fold's working set") {
    import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, GenerateUnsafeProjection}
    import org.apache.spark.sql.types.LongType
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe "1024"
    // the size Spark really built its JVM-global cache with (the static
    // conf is read once, at the JVM's first code generation): 150 distinct
    // classes all stay cached, where Spark's default keeps at most 100
    for (i <- 0 until 150)
      GenerateUnsafeProjection.generate(Seq(Add(BoundReference(0, LongType, false), Literal(i.toLong))))
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("size").invoke(cache).asInstanceOf[Long] should be >= 150L
  }
}
