package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated plans must hit Spark's codegen cache: a curation operator run
  * again in one session compiles no new generated classes. Two session
  * defaults make this hold (see [[GraftSession.tune]]): class names
  * without the AQE stage id, and a cache larger than the working set. */
class CodegenCacheSpec extends TestSpark {

  test("tune sets the codegen cache confs") {
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
  }

  test("the third run of d07 and q63 recompiles no generated class") {
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Seq("d07_dedup_corpus", "q63_mi_feature_select").foreach { q =>
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val compiled = Seq.fill(3)(round())
    // A cache miss recompiles the whole round (~120 classes). A later
    // round may still plan one new variant (a broadcast join with
    // another row layout), which is new code: one class per class
    // loader, compiled once.
    assert(compiled.last <= 4L, s"classes compiled per round: $compiled")
  }
}
