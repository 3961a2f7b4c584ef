package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** `Sessions.tune` sizes Spark's codegen cache to hold the operators'
  * working set of generated classes, and pays for it with driver UI
  * history that nothing reads. A query that runs again must find its
  * classes in the cache instead of recompiling them with Janino. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("Sessions.local carries the codegen cache cap and the UI history retention") {
    // getOrCreate hands back the shared test session, built through the
    // same Sessions.tune; local() lowers the log level, so restore it
    val s = graft.core.Sessions.local("4")
    try {
      val conf = s.sparkContext.getConf
      assert(conf.get("spark.sql.codegen.cache.maxEntries") == "240")
      for (k <- Seq("spark.ui.retainedJobs", "spark.ui.retainedStages",
          "spark.sql.ui.retainedExecutions"))
        assert(conf.get(k) == "5", k)
    } finally s.sparkContext.setLogLevel("ERROR")
  }

  test("more generated classes than Spark's default cache holds compile once") {
    // Spark inlines primitive literals into generated code, so each query
    // compiles classes of its own (two here). About 120 classes overflow
    // the default 100 entries, yet stay far below the 60 that each of the
    // cache's 4 segments evicts at under the 240-entry cap.
    val queries = (1 to 60).map(i =>
      () => spark.range(4).selectExpr(s"id * $i + ${7 * i + 1} AS x").collect())
    val first = compiles
    queries.foreach(q => q())
    val second = compiles
    queries.foreach(q => q())
    assert(second - first > 100, "each query should compile classes of its own")
    assert(compiles - second == 0, "the second round must find every class in the cache")
  }
}
