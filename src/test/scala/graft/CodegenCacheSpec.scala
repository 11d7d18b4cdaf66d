package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Compiled code is a cache (SCALE.md): a query that runs again in the
  * same JVM must find every generated class it needs already compiled.
  * Spark's default cache (100 classes) is smaller than one pass of the
  * operator suite, so it recompiles most of the pass; `Sessions.local`
  * sizes it, and keeps AQE's stage numbering out of the generated source.
  * The cache size is a static conf, read when the first class is compiled,
  * so this also fails if codegen runs before the session is built. */
class CodegenCacheSpec extends SparkSpec {

  test("a warm re-run of the operator suite compiles nothing") {
    val suite = Seq("graph_sssp", "tok_bpe_encode", "dedup_recall_eval",
      "mm_h264_px")
    def pass(): Unit =
      suite.foreach(q => SparkEntry.queries(q)(spark, sf0001).collect())
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val before = compiles
    pass()
    val recompiled = compiles - before
    assert(recompiled == 0,
      s"the warm re-run compiled $recompiled generated classes again")
  }
}
