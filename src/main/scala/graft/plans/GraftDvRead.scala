package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftDvRelation, GraftFileIndex}
import graft.store.{Snapshot, Versioned}

/** Keeps `format("graft")` reads CORRECT and VECTORIZED under live
  * deletion vectors.
  *
  * Without this rule a DV-carrying read executes through
  * [[GraftDvRelation]] — a self-contained PrunedFilteredScan whose
  * InternalRow-RDD boundary costs whole-stage codegen and the
  * vectorized parquet reader for the whole enclosing query (correct,
  * but a read tax between a DV delete and its purge) — and a relation
  * analyzed BEFORE a tombstone commit can only refuse loudly. The rule
  * replaces both shapes with the store's native logical form: a
  * [[HadoopFsRelation]] scan over a pinned, `dvApplied`
  * [[GraftFileIndex]] with the tombstone anti-join ABOVE it in the
  * logical plan, where Catalyst sees both sides. The scan stays a
  * FileSourceScanExec (codegen + vectorized parquet + the index's file
  * skipping); the anti-join broadcasts under the same size cap as
  * every other DV read (Delta applies DVs inside its scan for the same
  * reason — Spark 4's `_metadata.row_index` is what makes the logical
  * form exact).
  *
  * Injected as an OPTIMIZER rule, deliberately: the analyzer marks
  * resolved subtrees and never revisits them, so a rule there cannot
  * see the stored relation of a long-lived view (or an already-built
  * Dataset) after a LATER commit grows tombstones — exactly the reads
  * that must not resurrect deleted rows. The optimizer runs afresh on
  * every execution, so each query applies the tombstones of the
  * snapshot it actually reads; once rewritten, the inner `dvApplied`
  * index stops the rule re-firing within the fixpoint. DML statements
  * never reach the optimizer (the resolution rules convert them to
  * commands), so this cannot disturb [[GraftInsertRule]]'s targets.
  *
  * The final Project re-binds the replacement plan to the original
  * relation's attribute ids, so everything referencing the old output
  * resolves unchanged. */
class GraftDvReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  /** `snap` is the one snapshot this execution reads (the relation's
    * own, re-resolved for an unpinned relation): its tombstones, data
    * files and schema-DDL state all come from it. */
  private def rewrite(lr: LogicalRelation, snap: Snapshot): LogicalPlan = {
    if (snap.dvFiles.isEmpty || snap.dataFiles.isEmpty) return lr
    val index = new GraftFileIndex(session, snap.root, Some(snap.version),
      dvApplied = true, seed = Some(snap))
    val rel = HadoopFsRelation(index, new StructType(), index.schemaOf,
      None, new ParquetFileFormat, Map.empty)(session)
    val scan = session.baseRelationToDataFrame(rel)
    val applied = Versioned.applyDeleteVectors(session, snap, scan)
    // pick the column space the stale relation actually exposes: a
    // relation under the schema-DDL mapping wrap outputs PHYSICAL
    // names (the native scan already matches); a GraftDvRelation (or
    // an unmapped table) outputs the logical/footer names
    def rebind(frame: org.apache.spark.sql.DataFrame)
        : Option[LogicalPlan] = {
      val child = frame.queryExecution.analyzed
      val byName = child.output.map(a => a.name -> a).toMap
      if (!lr.output.forall(o => byName.contains(o.name))) None
      else Some(Project(lr.output.map { o =>
        Alias(byName(o.name), o.name)(exprId = o.exprId,
          qualifier = o.qualifier)
      }, child))
    }
    rebind(applied).orElse {
      snap.ddl.flatMap(s => rebind(Versioned.toLogicalFrame(applied, s)))
    // schema drift between the stale relation and the live table:
    // keep the self-contained fallback rather than emit a wrong plan
    }.getOrElse(lr)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case lr: LogicalRelation =>
        lr.relation match {
          case fsrel: HadoopFsRelation => fsrel.location match {
            case gi: GraftFileIndex if !gi.dvApplied =>
              gi.snapshot().fold(lr: LogicalPlan)(rewrite(lr, _))
            case _ => lr
          }
          case dv: GraftDvRelation => rewrite(lr, dv.snapshot())
          case _ => lr
        }
    }
}
