package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftExtensions]] sizes Spark's generated-class cache. At Spark's
  * default of 100 entries, a mix that generates more classes than that
  * evicts each class before it is reused, and every repeat of the mix
  * compiles again. The mix below generates about 250 distinct classes
  * here (sf0.001). The second case pins `a10_multi_distinct`, whose
  * plan once depended on the order Spark's distinct-aggregate rewrite
  * chose for its two distinct groups, and that order changed between
  * analyses of the same query.
  */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val mix = Seq("a1_groupby_sum_top5", "a4_rollup", "j4_star_join",
    "w1_window_topn", "w4_sessionize", "l2_cdc_apply", "f_string_funcs",
    "a5_percentile", "d5_components", "s5_kmeans_assign", "g5_components")

  /** Classes compiled while running the mix once. */
  private def compiles(): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    mix.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a10_multi_distinct compiles nothing after its first analysis") {
    def run(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("a10_multi_distinct")(spark, sf).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    run()
    val again = (1 to 8).map(_ => run())
    assert(again.forall(_ == 0),
      s"fresh analyses of a10 compiled ${again.mkString(", ")} classes")
  }

  test("a repeated query mix of > 100 generated classes compiles nothing the second time") {
    val first = compiles()
    val again = compiles()
    assert(again == 0,
      s"the second run compiled $again classes (the first $first): " +
        "the codegen cache evicted them")
  }
}
