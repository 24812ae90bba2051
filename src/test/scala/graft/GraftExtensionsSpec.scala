package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.classic.GraftExtensionsProbe
import org.apache.spark.sql.functions._

import graft.plans.{GraftExtensions, TsLiteralPushdown}

/** The `spark.sql.extensions` deployment path: a session built with
  * [[GraftExtensions]] must behave exactly like one that went through
  * [[Tables.read]]'s self-registration — event-time predicates over the
  * ns-normalized `ts` reach the parquet scan as µs literals.
  */
class GraftExtensionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("GraftExtensions injects TsLiteralPushdown as an optimizer rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val rules = GraftExtensionsProbe.optimizerRules(ext, spark)
    assert(rules.contains(TsLiteralPushdown), rules.map(_.ruleName))
  }

  test("an extension-built session pushes ts range predicates to parquet") {
    val s = GraftExtensionsProbe.sessionWith(
      new SparkSessionExtensions, spark.sparkContext) // control: none
    val sExt0 = new SparkSessionExtensions
    new GraftExtensions()(sExt0)
    val sExt = GraftExtensionsProbe.sessionWith(sExt0, spark.sparkContext)
    for (sess <- Seq(s, sExt)) {
      sess.conf.set("spark.sql.session.timeZone", "UTC")
      sess.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    // Raw read + manual normalization so ONLY the session extension (not
    // Tables.read's extraOptimizations fallback) can restore pushdown.
    def plan(sess: org.apache.spark.sql.classic.SparkSession): String = {
      val ev = sess.read.parquet(s"$dir/events.parquet")
      val ns = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => ev
        case _ => ev.withColumn(
          "ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
      }
      ns.filter(col("ts") < lit(1705320000000000000L))
        .select("event_id", "ts")
        .queryExecution.executedPlan.toString
    }
    val withExt = plan(sExt)
    assert(withExt.contains("LessThan(ts,"),
      s"extension session must push the µs literal:\n${withExt.linesIterator.take(25).mkString("\n")}")
    // and the control session (no extensions, no Tables.read) must not —
    // proving the pushdown came from GraftExtensions, not some other path.
    // Only meaningful on timestamp-encoded data: a NANOS-era file reads as
    // a plain LONG whose comparison pushes with no rewrite needed.
    val rawIsTimestamp = sExt.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType != org.apache.spark.sql.types.LongType
    if (rawIsTimestamp) {
      val without = plan(s)
      assert(!without.contains("PushedFilters: [IsNotNull(ts), LessThan(ts,"),
        s"control session unexpectedly pushed the rewritten predicate:\n$without")
    }
  }

  test("Registry.register exposes native expressions to spark.sql") {
    graft.functions.Registry.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0, 2.0, 3.0), array(4.0, 5.0, 6.0)) AS d, " +
        "graft_jaro_winkler('MARTHA', 'MARHTA') AS jw").collect().head
    assert(r.getDouble(0) == 32.0, r)
    assert(math.abs(r.getDouble(1) - 0.9611111111111111) < 1e-12, r)
    // re-registration is a no-op replace, not an error
    graft.functions.Registry.register(spark)
    // and the plan stays native codegen — no ScalaUDF wrapper anywhere
    val p = spark.sql("SELECT graft_jaro_winkler('a', 'b')")
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p)
  }

  test("an extension-built session has the SQL functions pre-installed") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val sess = GraftExtensionsProbe.sessionWith(ext, spark.sparkContext)
    val r = sess.sql(
      "SELECT graft_dot(array(2.0), array(8.0)) AS d").collect().head
    assert(r.getDouble(0) == 16.0, r)
  }

  test("codegen class cache holds a working set past Spark's default 100") {
    // child JVMs: the test JVM's CodeGenerator was sized long ago
    val (code, out) = ChildJvm.run("graft.CodegenCacheCheck", Nil)
    assert(code == 0 && out.linesIterator.contains("recompiled 0"),
      s"exit $code: $out")
    assert(out.contains("codegen class cache sized to " +
      GraftExtensions.CodegenCacheEntries), out)
    // a value the user set is kept, and a 16-entry cache thrashes
    val (code16, out16) = ChildJvm.run("graft.CodegenCacheCheck",
      Seq("-Dspark.sql.codegen.cache.maxEntries=16"))
    val recompiled =
      out16.linesIterator.collectFirst { case s"recompiled $n" => n.toLong }
    assert(code16 == 0 && recompiled.exists(_ >= 100), s"exit $code16: $out16")
    assert(out16.contains("codegen class cache: kept user value 16"), out16)
  }
}
