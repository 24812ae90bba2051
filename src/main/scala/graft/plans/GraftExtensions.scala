package graft.plans

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** THE session-extension entry point — the single place the engine's
  * optimizer rule and SQL functions are installed (at session build time;
  * [[graft.Tables.read]] deliberately does NOT self-register anything, so
  * a user session gets the rule before any table is read).
  *
  * Two ways to install:
  *
  *   - programmatic: `SparkSession.builder().withExtensions(new
  *     GraftExtensions)` — library embedding;
  *   - configuration-only: `--conf spark.sql.extensions=
  *     graft.plans.GraftExtensions` — no code change on an existing
  *     application, the standard mechanism for cluster-wide rollout
  *     (spark-submit / job-server deployments where the engine's jars are
  *     on the classpath but the session builder isn't ours).
  *
  * Injected pieces:
  *
  *   - [[TsLiteralPushdown]] as a resolved-plan optimizer rule, so
  *     event-time range predicates keep parquet row-group pruning after
  *     the ns-normalization projection (see the rule's doc — at 100 TB
  *     this is the difference between min/max-skipping and a full scan);
  *   - the [[graft.functions.Registry]] SQL functions (`graft_dot`,
  *     `graft_jaro_winkler`) backed by the native codegen expressions;
  *   - a generated-class cache sized to the engine's working set
  *     ([[GraftExtensions.sizeCodegenCache]]): Spark's JVM-wide cache
  *     holds 100 classes by default, one crawl cycle's plans need about
  *     200, so under the default every cycle recompiled all of them.
  *     Executor JVMs initialize their own `CodeGenerator` from their own
  *     conf, so cluster deployments set
  *     `spark.sql.codegen.cache.maxEntries` explicitly; this sizes only
  *     the driver JVM's cache. Under `local[n]` that one cache also
  *     serves the tasks, but Spark 4.1 keys it by (context class loader,
  *     source): the driver plans under the application loader and tasks
  *     run under the executor's `MutableURLClassLoader`, so a class that
  *     is generated both on the driver and in tasks is compiled, and
  *     cached, once per loader. Measured on `local[2]`: a stage with one
  *     new literal compiled once at `toRdd` and once more when its tasks
  *     ran.
  *
  * Installation is idempotent: the rule is an `object`,
  * `transformAllExpressions` is a no-op once the pattern no longer
  * matches, and double registration rewrites nothing twice because the
  * first pass already eliminated the matched shape.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => TsLiteralPushdown)
    // SQL INSERT INTO/OVERWRITE on `USING graft` relations must commit
    // through the manifest protocol; the generic file-source insert
    // would write unlisted parquet straight into the table dir
    // (invisible rows = silent data loss). Resolution-batch placement
    // beats the post-hoc DataSourceAnalysis to the statement.
    // schema-DDL (column-mapping) relations project to their logical
    // names — MUST sit in the same resolution batch as the DML rule,
    // which defers conversion until the wrap has landed
    ext.injectResolutionRule(session => new GraftMappingRule(session))
    ext.injectResolutionRule(_ => new GraftInsertRule)
    // DV-carrying format("graft") reads become native scan+anti-join
    // plans (vectorized parquet + codegen preserved); optimizer-side so
    // EVERY execution re-applies the live snapshot's tombstones — see
    // the rule's doc for why the analyzer cannot host this
    ext.injectOptimizerRule(session => new GraftDvReadRule(session))
    // SQL time travel BY NAME (SELECT ... FROM t VERSION AS OF n):
    // Spark only resolves RelationTimeTravel for DSv2 tables — its own
    // ResolveRelations THROWS for v1 relations, so this must run in
    // the earlier hint-resolution batch to claim graft names first
    ext.injectHintResolutionRule(session =>
      new GraftTimeTravelRule(session))
    // governance verbs (ALTER TABLE ADD/DROP CONSTRAINT, DESCRIBE
    // HISTORY, OPTIMIZE [ZORDER BY], VACUUM) as a delegating parser —
    // everything outside the five shapes goes to Spark's own parser
    ext.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    // Native expressions as SQL functions (graft_dot, graft_jaro_winkler
    // …): the same descriptions graft.functions.Registry.register
    // installs post-hoc, here wired at session build time.
    graft.functions.Registry.functions.foreach(ext.injectFunction)
    // Not a check: the builder runs when a session's analyzer is built,
    // after the SparkContext (and so every user-set key) exists and
    // before the session's first plan can compile a class
    ext.injectCheckRule { session =>
      GraftExtensions.sizeCodegenCache(session)
      _ => ()
    }
  }
}

object GraftExtensions {

  /** Entries of Spark's generated-class cache once graft is installed:
    * about five crawl cycles' worth of distinct classes. */
  val CodegenCacheEntries = 1000

  private val log = LogManager.getLogger(classOf[GraftExtensions])
  private val decided = new AtomicBoolean(false)

  /** `CodeGenerator` reads `SQLConf.get.codegenCacheMaxEntries` exactly
    * once, when its object is initialized, so the size is fixed by
    * forcing that initialization under a conf carrying
    * [[CodegenCacheEntries]]. Skipped when the session's SparkConf sets
    * `spark.sql.codegen.cache.maxEntries` (the user's value then sizes
    * the cache as usual); a JVM that compiled a class before keeps the
    * size it started with. Decided once per JVM; logs which size is in
    * force, since `spark.conf.get` keeps reporting Spark's default. */
  private[plans] def sizeCodegenCache(session: SparkSession): Unit =
    if (decided.compareAndSet(false, true)) {
      val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
      session.sparkContext.getConf.getOption(key) match {
        case Some(n) => log.info(s"codegen class cache: kept user value $n")
        case None =>
          var read = false
          val conf = new SQLConf {
            override def codegenCacheMaxEntries: Int = {
              read = true; CodegenCacheEntries
            }
          }
          SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
          log.info(
            if (read) s"codegen class cache sized to $CodegenCacheEntries"
            else "codegen class cache already initialized; kept its size")
      }
    }
}
