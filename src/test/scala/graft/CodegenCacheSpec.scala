package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's codegen cache holds the working set of the iterative
  * queries: building and writing them a second time compiles no class.
  * Under Spark's 100-entry default the five queries evict one another's
  * classes and every pass recompiles them. The cache is sized once per
  * JVM, when CodeGenerator first loads, so this also shows that the
  * `Tables.sessionConf` value reached it. */
class CodegenCacheSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("q25_minhash_sig", "q27_simhash", "q35_dedup_groups",
    "q76_dedup_keep_best", "q179_bpe_merges")

  /** Janino compiles during one build-and-noop-write of every query. */
  private def compiles(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { n =>
      SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeat pass over the iterative queries compiles no class") {
    val first = compiles()
    val second = compiles()
    assert(second == 0, s"the repeat pass compiled $second classes (first pass: $first)")
  }
}
