package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.metrics.source.CodegenMetrics

/** Child-JVM half of GraftExtensionsSpec's codegen-cache check (Spark
  * fixes its generated-class cache size when `CodeGenerator` is first
  * initialized, which in the test JVM has long happened): runs 150
  * distinct tiny plans twice on a fresh [[Session]] and prints
  * "recompiled N", the classes the second pass compiled again. Spark's
  * default 100-entry cache evicts every one of them before the second
  * pass reaches it. */
object CodegenCacheCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(1)
    Configurator.setLevel("graft.plans.GraftExtensions", Level.INFO)
    // the multiplier is inlined into the generated code: one class each
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(8).selectExpr(s"id * $i + 1").collect()
    }
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    println(s"recompiled ${
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before}")
    spark.stop()
  }
}
