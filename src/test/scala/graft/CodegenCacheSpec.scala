package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/** Spark's cache of compiled generated classes, as [[BenchConf.base]]
  * sizes it. No Spark job runs: the projections compile on this thread. */
class CodegenCacheSpec extends AnyFunSuite with SparkFixture {

  // the session first: CodeGenerator sizes its cache from the session
  // conf at the JVM's first codegen
  override def beforeAll(): Unit = { super.beforeAll(); spark }

  test("a working set past Spark's default 100 entries compiles once per JVM") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
    val in = BoundReference(0, IntegerType, nullable = false)
    // each literal is inlined into the generated source, so each
    // projection is a distinct class
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 150).foreach(i => UnsafeProjection.create(Seq(Add(in, Literal(i)))))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles() > 100)
    assert(compiles() == 0)
  }
}
