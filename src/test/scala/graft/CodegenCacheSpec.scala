package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Each generated-code shape compiles once per JVM (`GraftSession`'s
  * codegen settings, SCALE.md r22): a repeated query compiles nothing, and
  * one pipeline run as two whole-stage-codegen stages compiles once.
  * Compiles are counted JVM-wide, which is exact because suites run one
  * at a time.
  */
class CodegenCacheSpec extends SparkSpec {
  /** Janino compiles (compiled-class cache misses) while `run` runs. */
  private def compiles(run: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a repeated query compiles nothing: cosine_topk_graph at sf0.001, " +
       "called again after graph_topk_rescored_drift, adds 0 compiles") {
    def call(q: String): Long = compiles {
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()
    }
    // together the two generate more classes than Spark's default
    // 100-entry cache holds, so this also pins the raised cap
    val first = call("cosine_topk_graph")
    val between = call("graph_topk_rescored_drift")
    val again = call("cosine_topk_graph")
    assert(again == 0,
      s"the second call compiled $again classes (the first: $first; in between: $between)")
  }

  test("one pipeline shape in two whole-stage-codegen stages compiles once") {
    // the nonce literal is inlined into the generated source, so no
    // earlier spec in this JVM compiled the same one
    val nonce = System.nanoTime()
    def pipeline(n: Long): DataFrame = spark.range(0, 1000, 1, 2)
      .select((col("id") * 7 + lit(n)).as("x")).filter(col("x") % 3 === 0)
    val one = compiles(pipeline(nonce).queryExecution.toRdd.count())
    // Union does not take part in codegen: each branch is its own stage
    val twice = pipeline(nonce + 1).union(pipeline(nonce + 1))
    assert(twice.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.size == 2)
    val two = compiles(twice.queryExecution.toRdd.count())
    assert(one > 0)
    assert(two == one, s"two stages of one shape compiled $two classes, one stage $one")
  }
}
