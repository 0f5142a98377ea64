package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's compiled-class cache outlives one ingest batch's
  * working set: Spark's default holds 100 classes, so a working set
  * above that evicts its own classes before they are reused.
  */
class CodegenCacheSpec extends SparkSpec {

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("after 150 distinct generated classes, re-running the first " +
      "plan compiles nothing") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    // an offset no other spec uses keeps every plan's code new here
    def run(i: Int) = spark.range(1).selectExpr(s"id + ${7340000 + i}")
      .collect()
    val before = compiles
    (1 to 150).foreach(run)
    assert(compiles - before > 100,
      s"only ${compiles - before} classes compiled — the plans shared code")
    val warm = compiles
    run(1)
    assert(compiles == warm,
      s"re-running the first plan compiled ${compiles - warm} classes")
  }
}
