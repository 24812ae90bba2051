package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.sources.{GraftDvRelation, GraftFileIndex}
import graft.store.Versioned

/** SQL DML over `USING graft` relations, routed through the versioned
  * commit protocol: INSERT INTO / INSERT OVERWRITE / DELETE FROM /
  * UPDATE / MERGE INTO (the canonical upsert shape).
  *
  * Why a rule exists at all: without it, INSERT falls to Spark's
  * generic file-source path (DataSourceAnalysis →
  * InsertIntoHadoopFsRelationCommand), which writes parquet DIRECTLY
  * into the table directory — files no manifest lists, so the
  * "inserted" rows are invisible to every read while the statement
  * reports success (silent data loss). DELETE/UPDATE/MERGE on a DSv1
  * relation fail analysis outright. The rule intercepts the resolved
  * statements during MAIN resolution (post-hoc rules, where the
  * generic planner lives, run later) and rewrites each into a command
  * that commits through the manifest protocol — history, time travel,
  * CDC and conflict detection all behave exactly as the Scala API.
  *
  * Statement → commit mapping:
  *   - INSERT INTO → `commitAppend` (under the table's own partition
  *     layout — SQL has no partitionBy option to pass);
  *     INSERT OVERWRITE → `commitOverwrite`.
  *   - DELETE FROM → `commitDeleteVectors` when the table already
  *     carries tombstones (stay merge-on-read), else copy-on-write
  *     `commitDelete`.
  *   - UPDATE → `commitUpdate` (copy-on-write, pre-pruned).
  *   - MERGE INTO t USING s ON <equality of identically-named cols>
  *     with the FULL clause grammar — conditional WHEN MATCHED
  *     UPDATE/DELETE, conditional WHEN NOT MATCHED INSERT (column
  *     lists included), WHEN NOT MATCHED BY SOURCE UPDATE/DELETE —
  *     → `commitMergeConditional`; only a non-equality ON clause
  *     fails loudly.
  */
class GraftInsertRule extends Rule[LogicalPlan] {

  private def rootOf(table: LogicalPlan): Option[String] = table match {
    case s: SubqueryAlias => rootOf(s.child)
    case v: View => rootOf(v.child)
    case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
      // ONLY the mapping wrap (GraftMappingRule) is transparent —
      // a user view projecting a graft table stays non-DML-able,
      // exactly as before schema DDL existed
      p.child match {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case gi: GraftFileIndex if gi.mapped => Some(gi.root)
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case gi: GraftFileIndex =>
          // a schema-DDL relation still awaiting its mapping wrap:
          // DON'T convert yet (the statement would see physical
          // names); GraftMappingRule fires in this same resolution
          // fixpoint and the next iteration converts over the wrap
          val wrapPending = !gi.mapped &&
            Versioned.schemaDdl(gi.root, gi.pinned.getOrElse(0L))
              .exists(_.schema.fieldNames.toSeq !=
                lr.output.map(_.name))
          if (wrapPending) None else Some(gi.root)
        case _ => None
      }
      case dv: GraftDvRelation => Some(dv.root)
      case _ => None
    }
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case o => Seq(o)
  }

  /** ON-clause keys: a conjunction of equalities between
    * identically-named columns (the one restriction the SQL surface
    * keeps — the store's key probes, file pruning and canonical
    * upsert all speak named keys). */
  private def mergeKeys(m: MergeIntoTable): Seq[String] =
    conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name == b.name => a.name
      case other => throw new IllegalArgumentException(
        "graft MERGE needs an ON clause that is a conjunction of " +
          s"equalities between identically-named columns, got: $other")
    }.distinct

  /** Translate the statement's WHEN clauses into the store's
    * side-disambiguated merge namespace: every attribute bound to the
    * target becomes `__t_<name>`, every source attribute `__s_<name>`
    * — carried as re-resolvable Columns (see [[GraftDml.asCol]]'s
    * rationale), evaluated by `commitMergeConditional` over its joined
    * frame. */
  private def clausesOf(m: MergeIntoTable): (Seq[GraftMergeClause],
      Seq[GraftMergeClause], Seq[GraftMergeClause]) = {
    val tAttrs = m.targetTable.outputSet
    val sAttrs = m.sourceTable.outputSet
    def xlate(e: Expression): Column =
      org.apache.spark.sql.GraftStreamBridge.columnOf(e.transform {
        case a: AttributeReference if tAttrs.contains(a) =>
          UnresolvedAttribute.quoted("__t_" + a.name)
        case a: AttributeReference if sAttrs.contains(a) =>
          UnresolvedAttribute.quoted("__s_" + a.name)
      })
    val targetCols = m.targetTable.schema.fieldNames.toSeq
    def starAssigns(prefix: String): Seq[(String, Column)] =
      targetCols.map(n => n -> org.apache.spark.sql.GraftStreamBridge
        .columnOf(UnresolvedAttribute.quoted(prefix + n)))
    def assignsOf(as: Seq[Assignment]): Seq[(String, Column)] =
      as.map {
        case Assignment(k: AttributeReference, v) => k.name -> xlate(v)
        case a => throw new IllegalArgumentException(
          s"graft MERGE assigns whole target columns, got ${a.key}")
      }
    def clauseOf(a: MergeAction): GraftMergeClause = a match {
      case UpdateStarAction(c) =>
        GraftMergeClause(c.map(xlate), "update", starAssigns("__s_"))
      case UpdateAction(c, as, _) =>
        GraftMergeClause(c.map(xlate), "update", assignsOf(as))
      case DeleteAction(c) =>
        GraftMergeClause(c.map(xlate), "delete", Nil)
      case InsertStarAction(c) =>
        GraftMergeClause(c.map(xlate), "insert", starAssigns("__s_"))
      case InsertAction(c, as) =>
        GraftMergeClause(c.map(xlate), "insert", assignsOf(as))
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE action: $other")
    }
    (m.matchedActions.map(clauseOf), m.notMatchedActions.map(clauseOf),
      m.notMatchedBySourceActions.map(clauseOf))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case i: InsertIntoStatement if i.table.resolved &&
          i.query.resolved && rootOf(i.table).isDefined =>
        require(i.partitionSpec.isEmpty,
          "INSERT into a graft table takes no PARTITION spec: " +
            "partition values are ordinary columns of the row")
        GraftInsertCommand(rootOf(i.table).get, i.query,
          i.overwrite, i.table.schema, i.userSpecifiedCols)

      case d: DeleteFromTable if d.table.resolved &&
          d.condition.resolved && rootOf(d.table).isDefined =>
        GraftDeleteCommand(rootOf(d.table).get, d.condition)

      case u: UpdateTable if u.table.resolved &&
          u.assignments.forall(_.resolved) &&
          u.condition.forall(_.resolved) &&
          rootOf(u.table).isDefined =>
        val assigns = u.assignments.map {
          case Assignment(k: AttributeReference, v) => k.name -> v
          case a => throw new IllegalArgumentException(
            s"graft UPDATE assigns whole columns, got: ${a.key}")
        }
        GraftUpdateCommand(rootOf(u.table).get, assigns, u.condition)

      case m: MergeIntoTable if m.targetTable.resolved &&
          m.sourceTable.resolved && m.mergeCondition.resolved &&
          m.matchedActions.forall(_.resolved) &&
          m.notMatchedActions.forall(_.resolved) &&
          m.notMatchedBySourceActions.forall(_.resolved) &&
          rootOf(m.targetTable).isDefined =>
        val (matched, notMatched, nmbs) = clausesOf(m)
        GraftMergeFullCommand(rootOf(m.targetTable).get,
          m.sourceTable, mergeKeys(m), matched, notMatched, nmbs)
    }
}

/** INSERT: align the query's rows to the table schema positionally
  * (names from the table, ANSI casts to its types — a narrowing that
  * loses data throws, it never corrupts), then commit. A column list
  * (`INSERT INTO t (a, c) SELECT ...`) binds positionally to the
  * NAMED columns; unnamed columns become null (the standard's
  * DEFAULT-absent behavior). */
case class GraftInsertCommand(root: String, query: LogicalPlan,
                              overwrite: Boolean,
                              tableSchema: StructType,
                              userCols: Seq[String] = Nil)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val rows = org.apache.spark.sql.GraftStreamBridge.ofRows(session,
      query)
    val aligned =
      if (userCols.isEmpty) {
        require(rows.schema.length == tableSchema.length,
          s"INSERT provides ${rows.schema.length} columns, table " +
            s"$root has ${tableSchema.length}")
        rows.toDF(tableSchema.fieldNames.toSeq: _*)
          .select(tableSchema.fields.toSeq
            .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      } else {
        val unknown = userCols.filterNot(tableSchema.fieldNames.contains)
        require(unknown.isEmpty,
          s"INSERT column list names unknown column(s) " +
            s"${unknown.mkString(", ")}")
        val mustName = tableSchema.fields
          .filter(f => !f.nullable && !userCols.contains(f.name))
        require(mustName.isEmpty,
          "INSERT column list omits NOT NULL column(s) " +
            s"${mustName.map(_.name).mkString(", ")} - name them or " +
            "make them nullable")
        require(rows.schema.length == userCols.length,
          s"INSERT provides ${rows.schema.length} columns for a " +
            s"${userCols.length}-column list")
        val named = rows.toDF(userCols: _*)
        named.select(tableSchema.fields.toSeq.map { f =>
          if (userCols.contains(f.name))
            col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
      }
    // an append defaults to the table's layout itself; an overwrite
    // names it, or it would land flat
    if (overwrite)
      Versioned.commitOverwrite(aligned, root,
        partitionBy = Versioned.latest(root).layout)
    else Versioned.commitAppend(aligned, root)
    Nil
  }
}

private[plans] object GraftDml {
  /** Re-resolvable Column from a statement expression: attribute
    * references bound to the view's relation become bare names at RUN
    * time (the command must carry only RESOLVED expressions or
    * CheckAnalysis rejects the plan), so the commit's own fresh scan
    * resolves them again. */
  def asCol(e: Expression): Column =
    org.apache.spark.sql.GraftStreamBridge.columnOf(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
}

/** DELETE FROM: merge-on-read tombstones when the table already
  * carries them, copy-on-write rewrite otherwise. */
case class GraftDeleteCommand(root: String, condition: Expression)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val pred: Column = GraftDml.asCol(condition)
    if (Versioned.hasDeleteVectors(root))
      Versioned.commitDeleteVectors(session, root, pred)
    else Versioned.commitDelete(session, root, pred)
    Nil
  }
}

/** UPDATE ... SET ... WHERE ...: copy-on-write rewrite of only the
  * files holding a matched row. */
case class GraftUpdateCommand(root: String,
                              assignments: Seq[(String, Expression)],
                              condition: Option[Expression])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Versioned.commitUpdate(session, root,
      condition.map(GraftDml.asCol).getOrElse(lit(true)),
      assignments.map { case (c, e) => c -> GraftDml.asCol(e) })
    Nil
  }
}

/** A WHEN clause carried from analysis to run time: condition and
  * assignment VALUES are re-resolvable Columns over the merge's
  * `__t_`/`__s_` joined namespace. */
case class GraftMergeClause(condition: Option[Column], kind: String,
                            assignments: Seq[(String, Column)])

/** MERGE INTO with the FULL grammar (conditional matched
  * update/delete, conditional inserts with column lists, NOT MATCHED
  * BY SOURCE) — routed to [[Versioned.commitMergeConditional]]. */
case class GraftMergeFullCommand(root: String, source: LogicalPlan,
                                 keys: Seq[String],
                                 matched: Seq[GraftMergeClause],
                                 notMatched: Seq[GraftMergeClause],
                                 notMatchedBySource: Seq[GraftMergeClause])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftStreamBridge.ofRows(session,
      source)
    def xl(cs: Seq[GraftMergeClause]): Seq[Versioned.MergeClause] =
      cs.map(c => Versioned.MergeClause(c.condition, c.kind,
        c.assignments))
    Versioned.commitMergeConditional(src, root, keys, xl(matched),
      xl(notMatched), xl(notMatchedBySource))
    Nil
  }
}

