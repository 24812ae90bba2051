package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.Origin
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

import graft.sources.{GraftDvRelation, GraftFileIndex}
import graft.store.Versioned

/** SQL governance verbs for graft tables — the administrative surface
  * a pure-SQL user otherwise lacks (reads, writes and DML already work;
  * constraint management, history, OPTIMIZE and VACUUM only had Scala
  * entry points):
  *
  *   - `ALTER TABLE t ADD CONSTRAINT name CHECK (predicate)`
  *   - `ALTER TABLE t DROP CONSTRAINT name`
  *   - `DESCRIBE HISTORY t`
  *   - `OPTIMIZE t [ZORDER BY (c1, c2, ...)]`
  *   - `VACUUM t [RETAIN n HOURS] [DRY RUN]`
  *
  * `t` is a temp view / catalog table name, or a path: a quoted
  * `'/path'` or Delta's ``graft.`/path` `` convention. Installed by
  * [[GraftExtensions]] as a DELEGATING parser: statements matching the
  * five shapes above parse into graft commands, everything else goes
  * verbatim to the session's own parser — zero behavior change outside
  * the new verbs (Delta ships its VACUUM/OPTIMIZE grammar through the
  * same injectParser hook). */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = {
    val t = sqlText.trim
    addConstraintRe.findFirstMatchIn(t).map { m =>
      GraftAddConstraintCommand(TableRef(m.group(1)),
        m.group(2), m.group(3).trim)
    }.orElse(dropConstraintRe.findFirstMatchIn(t).map { m =>
      GraftDropConstraintCommand(TableRef(m.group(1)), m.group(2))
    }).orElse(describeHistoryRe.findFirstMatchIn(t).map { m =>
      GraftDescribeHistoryCommand(TableRef(m.group(1)))
    }).orElse(optimizeRe.findFirstMatchIn(t).map { m =>
      val zorder = Option(m.group(2)).toSeq
        .flatMap(_.split(',')).map(_.trim.stripPrefix("`")
          .stripSuffix("`")).filter(_.nonEmpty)
      GraftOptimizeCommand(TableRef(m.group(1)), zorder)
    }).orElse(vacuumRe.findFirstMatchIn(t).map { m =>
      GraftVacuumCommand(TableRef(m.group(1)),
        Option(m.group(2)).map(_.toLong),
        dryRun = m.group(3) != null)
    }).orElse(restoreRe.findFirstMatchIn(t).map { m =>
      GraftRestoreCommand(TableRef(m.group(1)), m.group(2).toLong)
    }).orElse(describeDetailRe.findFirstMatchIn(t).map { m =>
      GraftDescribeDetailCommand(TableRef(m.group(1)))
    }).orElse(convertRe.findFirstMatchIn(t).map { m =>
      GraftConvertCommand(TableRef(m.group(1)))
    }).orElse(setPropsRe.findFirstMatchIn(t).map { m =>
      GraftSetPropertiesCommand(TableRef(m.group(1)),
        kvPairs(m.group(2)))
    }).orElse(unsetPropsRe.findFirstMatchIn(t).map { m =>
      GraftUnsetPropertiesCommand(TableRef(m.group(1)),
        "'([^']*)'".r.findAllMatchIn(m.group(2))
          .map(_.group(1)).toSeq)
    }).orElse(addColumnsRe.findFirstMatchIn(t).map { m =>
      GraftAddColumnsCommand(TableRef(m.group(1)),
        Option(m.group(2)).getOrElse(m.group(3)).trim)
    }).orElse(renameColumnRe.findFirstMatchIn(t).map { m =>
      GraftRenameColumnCommand(TableRef(m.group(1)),
        m.group(2), m.group(3))
    }).orElse(dropColumnRe.findFirstMatchIn(t).map { m =>
      GraftDropColumnCommand(TableRef(m.group(1)), m.group(2))
    }).getOrElse(delegate.parsePlan(sqlText))
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

private[plans] object GraftSqlParser {
  // table reference: 'path' | graft.`path` | (multipart) identifier
  private val tblP = """('[^']+'|graft\.`[^`]+`|[\w][\w.]*)"""
  private def re(p: String) =
    ("(?is)\\A" + p + "\\s*;?\\s*\\z").r

  val addConstraintRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)")
  val dropConstraintRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+DROP\\s+CONSTRAINT\\s+(\\w+)")
  val describeHistoryRe = re("DESCRIBE\\s+HISTORY\\s+" + tblP)
  val optimizeRe = re("OPTIMIZE\\s+" + tblP +
    "(?:\\s+ZORDER\\s+BY\\s*\\(?([\\w,\\s`]+?)\\)?)?")
  val vacuumRe = re("VACUUM\\s+" + tblP +
    "(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS?)?(\\s+DRY\\s+RUN)?")
  val restoreRe = re("RESTORE\\s+TABLE\\s+" + tblP +
    "\\s+TO\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)")
  val describeDetailRe = re("DESCRIBE\\s+DETAIL\\s+" + tblP)
  val convertRe = re("CONVERT\\s+TO\\s+GRAFT\\s+" + tblP)
  val setPropsRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)")
  val unsetPropsRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+UNSET\\s+TBLPROPERTIES\\s*\\((.+)\\)")
  // schema DDL (metadata-only; see Versioned's column-mapping band)
  val addColumnsRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+ADD\\s+COLUMNS?\\s+(?:\\((.+)\\)|(.+))")
  val renameColumnRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+RENAME\\s+COLUMN\\s+`?(\\w+)`?\\s+TO\\s+`?(\\w+)`?")
  val dropColumnRe = re("ALTER\\s+TABLE\\s+" + tblP +
    "\\s+DROP\\s+COLUMNS?\\s+`?(\\w+)`?")

  /** `'k' = 'v', 'k2' = 'v2'` → pairs. */
  def kvPairs(body: String): Seq[(String, String)] =
    "'([^']*)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(body)
      .map(m => (m.group(1), m.group(2))).toSeq
}

/** A graft table named in a governance verb: a filesystem path or a
  * catalog/temp-view name, resolved to the table ROOT at run time (the
  * catalog may not know the name at parse time). */
final case class TableRef(raw: String) {

  /** The session-catalog identifier behind this ref, when the ref is
    * a (non-view) catalog table name — the schema-DDL commands keep
    * the catalog's stored schema in step so `DESCRIBE t` and fresh
    * resolutions see the declared names. */
  def catalogIdent(session: SparkSession): Option[TableIdentifier] = {
    if (raw.startsWith("'") || raw.toLowerCase.startsWith("graft.`"))
      return None
    val cat = session.sessionState.catalog
    if (cat.getTempView(raw).isDefined ||
        cat.getGlobalTempView(raw).isDefined) return None
    val parts = raw.split('.')
    val ident =
      if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
      else TableIdentifier(raw)
    if (cat.tableExists(ident)) Some(ident) else None
  }

  def root(session: SparkSession): String = {
    if (raw.startsWith("'") && raw.endsWith("'"))
      return raw.substring(1, raw.length - 1)
    if (raw.toLowerCase.startsWith("graft.`") && raw.endsWith("`"))
      return raw.substring("graft.`".length, raw.length - 1)
    // temp view first (the USING graft idiom), then the catalog table
    val cat = session.sessionState.catalog
    val viewPlan = cat.getTempView(raw)
      .orElse(cat.getGlobalTempView(raw))
    viewPlan.flatMap(rootOfPlan).getOrElse {
      val parts = raw.split('.')
      val ident =
        if (parts.length == 2) TableIdentifier(parts(1), Some(parts(0)))
        else TableIdentifier(raw)
      val meta =
        try cat.getTableMetadata(ident)
        catch { case e: Exception =>
          throw new IllegalArgumentException(
            s"$raw is neither a graft temp view nor a catalog table " +
              s"(${e.getMessage}); name a USING graft view/table or " +
              "pass the table root as '/path'")
        }
      require(meta.provider.exists(_.equalsIgnoreCase("graft")),
        s"table $raw is not USING graft (provider " +
          s"${meta.provider.getOrElse("none")})")
      meta.storage.locationUri.map(u => new org.apache.hadoop.fs.Path(u)
          .toString)
        .orElse(meta.storage.properties.collectFirst {
          case (k, v) if k.equalsIgnoreCase("path") => v })
        .getOrElse(throw new IllegalArgumentException(
          s"graft table $raw has no location"))
    }
  }

  private def rootOfPlan(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case lr: LogicalRelation if rootOfRelation(lr).isDefined =>
        rootOfRelation(lr).get
    }

  private def rootOfRelation(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case gi: GraftFileIndex => Some(gi.root)
        case _ => None
      }
      case dv: GraftDvRelation => Some(dv.root)
      case _ => None
    }
}

private[plans] object GraftSqlOut {
  def attr(name: String, dt: DataType): Attribute =
    AttributeReference(name, dt, nullable = true)()
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (predicate)` → the
  * versioned, race-safe constraint publish (predicate parsed first,
  * current snapshot validated). */
case class GraftAddConstraintCommand(table: TableRef, name: String,
                                     predicate: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Versioned.addCheckConstraint(session, table.root(session), name,
      predicate)
    Nil
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name`. */
case class GraftDropConstraintCommand(table: TableRef, name: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Versioned.dropCheckConstraint(table.root(session), name)
    Nil
  }
}

/** `DESCRIBE HISTORY t` → the commit audit (version, publish time,
  * operation, file counts, tombstone bytes, txn stamp). */
case class GraftDescribeHistoryCommand(table: TableRef)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlOut.attr("version", LongType),
    GraftSqlOut.attr("published_at", LongType),
    GraftSqlOut.attr("operation", StringType),
    GraftSqlOut.attr("n_entries", LongType),
    GraftSqlOut.attr("n_data_files", LongType),
    GraftSqlOut.attr("n_dv_files", LongType),
    GraftSqlOut.attr("dv_bytes", LongType),
    GraftSqlOut.attr("txn", StringType))
  override def run(session: SparkSession): Seq[Row] =
    Versioned.history(session, table.root(session)).collect().toSeq
}

/** `OPTIMIZE t [ZORDER BY (cols)]` → bin-packing compaction, or a full
  * z-order re-cluster when columns are named. Returns the resulting
  * version (unchanged when nothing qualified). */
case class GraftOptimizeCommand(table: TableRef, zorderBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(GraftSqlOut.attr("version", LongType))
  override def run(session: SparkSession): Seq[Row] = {
    val v = Versioned.commitCompact(session, table.root(session),
      zorderBy = zorderBy)
    Seq(Row(v))
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n` → a NEW commit whose manifest
  * re-lists the target version's files (history stays intact; the
  * restore itself is auditable and reversible). */
case class GraftRestoreCommand(table: TableRef, toVersion: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(GraftSqlOut.attr("version", LongType))
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Versioned.commitRestore(table.root(session), toVersion)))
}

/** `DESCRIBE DETAIL t` → the table's current physical shape (Delta's
  * DESCRIBE DETAIL role): location, version, file counts and bytes,
  * partition layout, live tombstone files, constraint count. */
case class GraftDescribeDetailCommand(table: TableRef)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlOut.attr("location", StringType),
    GraftSqlOut.attr("version", LongType),
    GraftSqlOut.attr("num_data_files", LongType),
    GraftSqlOut.attr("size_bytes", LongType),
    GraftSqlOut.attr("partition_columns", StringType),
    GraftSqlOut.attr("num_dv_files", LongType),
    GraftSqlOut.attr("num_constraints", LongType))
  override def run(session: SparkSession): Seq[Row] = {
    val root = table.root(session)
    val s = Versioned.latest(root)
    Seq(Row(root, s.version, s.statuses.size.toLong,
      s.statuses.map(_.getLen).sum, s.layout.mkString(","),
      s.dvFiles.size.toLong, s.constraints.size.toLong))
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...)` → the versioned,
  * race-safe property publish. `graft.enableChangeDataFeed` = 'true'
  * makes every later rewrite commit stage exact change records, so
  * the change feed stays derivable across SQL DML. */
case class GraftSetPropertiesCommand(table: TableRef,
                                     props: Seq[(String, String)])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    require(props.nonEmpty,
      "SET TBLPROPERTIES needs at least one 'key' = 'value' pair")
    Versioned.setTableProperties(table.root(session), props)
    Nil
  }
}

/** `ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)`. */
case class GraftUnsetPropertiesCommand(table: TableRef,
                                       keys: Seq[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Versioned.unsetTableProperties(table.root(session), keys)
    Nil
  }
}

/** `CONVERT TO GRAFT '<dir>'` → adopt an existing plain-parquet
  * directory by reference: version 1 lists its files, zero bytes
  * rewritten (Delta's CONVERT TO DELTA role). */
case class GraftConvertCommand(table: TableRef)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(GraftSqlOut.attr("version", LongType))
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Versioned.convertParquet(session, table.root(session))))
}

/** Shared tail of the schema-DDL commands: keep a named catalog
  * table's stored schema in step with the new LOGICAL schema and drop
  * any cached relation so the next query re-resolves. */
private[plans] object GraftSchemaDdl {
  def syncCatalog(session: SparkSession, table: TableRef,
                  root: String): Unit = {
    table.catalogIdent(session).foreach { id =>
      Versioned.schemaDdl(root).map(_.schema).foreach { logical =>
        // alterTable, not alterTableDataSchema: the latter refuses
        // renames/drops (it only appends), but the store's versioned
        // schemaddl state is the source of truth here — the catalog
        // entry is a mirror for DESCRIBE and fresh resolutions
        val cat = session.sessionState.catalog
        val meta = cat.getTableMetadata(id)
        try cat.alterTable(meta.copy(schema = logical))
        catch { case scala.util.control.NonFatal(_) => () }
      }
      session.sessionState.catalog.refreshTable(id)
    }
  }
}

/** `ALTER TABLE t ADD COLUMN(S) (a INT, b STRING)` → metadata-only
  * schema widen: no file rewrites, old rows read the new columns as
  * null. */
case class GraftAddColumnsCommand(table: TableRef, colsDdl: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val cols =
      try StructType.fromDDL(colsDdl)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"cannot parse ADD COLUMNS list '$colsDdl': ${e.getMessage}")
      }
    val root = table.root(session)
    Versioned.addColumns(session, root, cols)
    GraftSchemaDdl.syncCatalog(session, table, root)
    Nil
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` → metadata-only: files keep
  * the old (physical) name; reads, writes, DML and the data-skipping
  * sidecars speak the new name from this version on. */
case class GraftRenameColumnCommand(table: TableRef, from: String,
                                    to: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = table.root(session)
    Versioned.renameColumn(session, root, from, to)
    GraftSchemaDdl.syncCatalog(session, table, root)
    Nil
  }
}

/** `ALTER TABLE t DROP COLUMN c` → metadata-only: the bytes stay
  * until vacuum-of-history, but no read or write sees them again. */
case class GraftDropColumnCommand(table: TableRef, name: String)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val root = table.root(session)
    Versioned.dropColumn(session, root, name)
    GraftSchemaDdl.syncCatalog(session, table, root)
    Nil
  }
}

/** `VACUUM t [RETAIN n HOURS] [DRY RUN]` → reclaim history older than
  * the retention horizon (default 168h = 7 days, Delta's default).
  * Keeps every version whose commit is inside the horizon plus the
  * version current AT the horizon, so time travel within retention
  * stays intact. */
case class GraftVacuumCommand(table: TableRef, retainHours: Option[Long],
                              dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlOut.attr("files_deleted", LongType),
    GraftSqlOut.attr("bytes_reclaimed", LongType))
  override def run(session: SparkSession): Seq[Row] = {
    val root = table.root(session)
    val hours = retainHours.getOrElse(168L)
    val cutoff = System.currentTimeMillis() - hours * 3600L * 1000L
    val latest = Versioned.latestVersion(root)
    val keepFrom =
      try math.max(1L, math.min(latest, Versioned.versionAt(root, cutoff)))
      catch { case _: Exception => 1L } // cutoff before first commit
    val (n, bytes) = Versioned.vacuum(root, keepFrom, dryRun = dryRun)
    Seq(Row(n, bytes))
  }
}
