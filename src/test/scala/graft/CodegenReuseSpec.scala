package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Generated code outlives the session that compiled it
  * (`Sessions.configure`: artifact isolation off, a codegen cache that
  * holds a whole sweep). A cold-pool pass — a fresh `newSession()`, or
  * the `cloneSession()` every stream query runs in — re-plans the same
  * queries and must find every class already compiled.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `q` in `s` as the benchmarks do; the pool tags it touched. */
  private def run(s: SparkSession, q: String): Seq[String] = {
    CachePool.drainTouched()
    SparkEntry.queries(q)(s, sfDir).queryExecution.toRdd.count()
    CachePool.drainTouched()
  }

  test("a fresh session re-running a pooled query compiles no class") {
    // both runs miss the pool (entries are per session) and build it,
    // so the second run re-plans every class the first one compiled
    assert(run(spark.newSession(), "text_tfidf").nonEmpty,
      "text_tfidf must read the pool")
    val before = compiles
    assert(run(spark.newSession(), "text_tfidf").nonEmpty)
    assert(compiles == before,
      s"${compiles - before} classes recompiled in a fresh session")
  }

  test("a second stream drain compiles no class") {
    run(spark, "stream_dedup_feed")
    val before = compiles
    run(spark, "stream_dedup_feed")
    assert(compiles == before,
      s"${compiles - before} classes recompiled by the second drain")
  }
}
