package org.apache.spark.sql.graftnative

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

import graft.table.GraftTable

/** Runnable commands behind graft's Delta-style SQL surface
  * (`DELETE FROM` / `UPDATE` / `MERGE INTO` / `OPTIMIZE` / `VACUUM` /
  * `DESCRIBE HISTORY` / `RESTORE TABLE`), produced by [[GraftSqlParser]]
  * when the named relation is a graft table. Each command is a thin
  * eager adapter over the corresponding [[GraftTable]] operation — all
  * transaction, CDF, and constraint semantics live there, identically
  * for the SQL and DataFrame entry points. Reference exercises the same
  * operations through delta-rs / Spark-Delta APIs
  * (spark_delta_handler.py:197-289, deltalake-query.ipynb cells 11-26);
  * the SQL forms are Delta's user-facing spellings of those calls. */
/** Opaque envelope hiding UNRESOLVED parsed expressions from TreeNode's
  * product traversal: a command's `Expression` fields are collected by
  * `QueryPlan.expressions` and CheckAnalysis then demands they resolve —
  * but DML conditions/assignments can only resolve against the table
  * read built at RUN time. Wrapping makes them payload, not plan. */
final class GraftParsed[+T](val value: T) extends Serializable {
  override def toString: String = String.valueOf(value)
  override def hashCode: Int = String.valueOf(value).hashCode
  override def equals(o: Any): Boolean = o match {
    case p: GraftParsed[_] => String.valueOf(p.value) == String.valueOf(value)
    case _ => false
  }
}
object GraftParsed { def apply[T](v: T): GraftParsed[T] = new GraftParsed(v) }

private[graftnative] object GraftSqlCommands {

  /** Delta returns a one-row metrics relation from DML; same here. */
  def metricAttrs(names: String*): Seq[Attribute] =
    names.map(n => AttributeReference(n, LongType, nullable = false)())

  /** DML conditions arrive as UNRESOLVED parsed trees; they are applied
    * with `df.filter` against the bare table read, where a `t.`/alias
    * qualifier has nothing to bind to. Strip qualifiers that name the
    * target so `DELETE FROM orders WHERE orders.x = 1` and the aliased
    * form both resolve; struct-field paths (first part NOT a known
    * qualifier) pass through untouched. */
  def stripQualifiers(e: Expression, qualifiers: Seq[String]): Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val quals = qualifiers.map(_.toLowerCase)
    e.transformUp {
      case a: UnresolvedAttribute
          if a.nameParts.length >= 2 && quals.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(a.nameParts.tail)
    }
  }

  def sourceDf(session: SparkSession, plan: LogicalPlan) =
    ClassicDataset.ofRows(session.asInstanceOf[ClassicSparkSession], plan)

  /** `spark.graft.sql.mergeOnRead`: route SQL DELETE/UPDATE through the
    * no-rewrite merge-on-read paths (deletion vectors + updated copies) —
    * Delta's deletion-vector write mode as a session switch. */
  def mergeOnRead(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.sql.mergeOnRead").exists(_.toBoolean)

  /** Parsed `MergeAction` → [[graft.table.MergeClause]], shared by the
    * native and foreign general-merge commands. Assignment keys may
    * carry the target alias; values keep their qualifiers (both join
    * sides are in scope at run time). */
  def mergeClauseOf(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction,
      targetAlias: String): graft.table.MergeClause = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, UpdateAction, UpdateStarAction}
    import graft.table.MergeClause
    def colOf(e: Expression) = ExpressionUtils.column(e)
    def assignMap(as: Seq[Assignment]): Map[String, org.apache.spark.sql.Column] =
      as.map { asg =>
        val name = asg.key match {
          case k: UnresolvedAttribute
              if k.nameParts.length >= 2 &&
                k.nameParts.head.equalsIgnoreCase(targetAlias) =>
            k.nameParts.tail.mkString(".")
          case k: UnresolvedAttribute => k.nameParts.mkString(".")
          case other => throw new UnsupportedOperationException(
            s"graft SQL MERGE: unsupported assignment target ${other.sql}")
        }
        name -> colOf(asg.value)
      }.toMap
    a match {
      case UpdateStarAction(c) => MergeClause.UpdateAll(c.map(colOf))
      case UpdateAction(c, as, _) => MergeClause.Update(assignMap(as), c.map(colOf))
      case DeleteAction(c) => MergeClause.Delete(c.map(colOf))
      case InsertStarAction(c) => MergeClause.InsertAll(c.map(colOf))
      case InsertAction(c, as) => MergeClause.Insert(assignMap(as), c.map(colOf))
      case other => throw new UnsupportedOperationException(
        s"graft SQL MERGE: unsupported action $other")
    }
  }
}

/** `DELETE FROM t [WHERE cond]`. No condition deletes every row (Delta
  * semantics), still as a logged, time-travelable commit.
  *
  * With `spark.graft.sql.mergeOnRead = true` the statement routes through
  * the merge-on-read path ([[GraftTable.deletePositional]]): only the
  * deleted rows' positions are written, as a deletion vector, and nothing
  * rewrites — the right mode for a narrow predicate on a huge table
  * (Delta's deletion-vector write mode, `delta.enableDeletionVectors`, as
  * a session switch). */
case class GraftDeleteCommand(
    table: GraftTable,
    condition: GraftParsed[Option[Expression]],
    qualifiers: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("num_affected_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val cond = condition.value
      .map(e => ExpressionUtils.column(GraftSqlCommands.stripQualifiers(e, qualifiers)))
      .getOrElse(lit(true))
    val c =
      if (GraftSqlCommands.mergeOnRead(session)) table.deletePositional(cond)
      else table.delete(cond)
    Seq(Row(c.metrics.getOrElse("numDeletedRows", 0L)))
  }
}

/** `UPDATE t SET c = e, … [WHERE cond]`. Assignment targets must be
  * top-level columns of the table (matched case-insensitively, as SQL
  * resolution does); Delta has the same restriction for non-struct
  * assignments. */
case class GraftUpdateCommand(
    table: GraftTable,
    assignments: GraftParsed[Seq[(Seq[String], Expression)]],
    condition: GraftParsed[Option[Expression]],
    qualifiers: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("num_affected_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val fields = table.read().schema.fieldNames
    val setMap: Map[String, org.apache.spark.sql.Column] = assignments.value.map {
      case (nameParts, value) =>
        // An assignment key may carry the table/alias qualifier too.
        val bare = if (nameParts.length >= 2 &&
            qualifiers.exists(_.equalsIgnoreCase(nameParts.head))) nameParts.tail
          else nameParts
        val name = bare match {
          case Seq(one) => fields.find(_.equalsIgnoreCase(one)).getOrElse(
            throw new IllegalArgumentException(
              s"UPDATE SET target '$one' is not a column of the table " +
                s"(columns: ${fields.mkString(", ")})"))
          case other => throw new UnsupportedOperationException(
            s"graft SQL UPDATE supports top-level column assignments only, " +
              s"got '${other.mkString(".")}'")
        }
        name -> ExpressionUtils.column(
          GraftSqlCommands.stripQualifiers(value, qualifiers))
    }.toMap
    val cond = condition.value
      .map(e => ExpressionUtils.column(GraftSqlCommands.stripQualifiers(e, qualifiers)))
      .getOrElse(lit(true))
    val c =
      if (GraftSqlCommands.mergeOnRead(session)) table.updatePositional(cond, setMap)
      else table.update(cond, setMap)
    Seq(Row(c.metrics.getOrElse("numUpdatedRows", 0L)))
  }
}

/** The two `MERGE INTO` shapes with a keyed primitive of their own
  * (an anti-join append, a keyed delete). [[GraftSqlParser]] routes them
  * here when the ON is one bare equi key; every other statement — the
  * bare upsert included — runs the general clause merge
  * ([[GraftMergeClausesCommand]]). */
sealed trait GraftMergeShape
object GraftMergeShape {
  /** WHEN NOT MATCHED THEN INSERT * only — CDC-style insert-if-absent. */
  case object InsertOnly extends GraftMergeShape
  /** WHEN MATCHED THEN DELETE only — delete keys present in the source. */
  case object DeleteMatched extends GraftMergeShape
}

/** `MERGE INTO t USING s ON t.k = s.k WHEN …` for the shapes above.
  * The source plan is analyzed at run time (it may be any query —
  * views, subqueries, joins), exactly as a DataFrame-API caller would
  * pass an arbitrary source frame to [[GraftTable.append]] or
  * [[GraftTable.deleteKeys]]. */
case class GraftMergeCommand(
    table: GraftTable,
    sourcePlan: LogicalPlan,
    key: String,
    shape: GraftMergeShape) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs(
    "num_affected_rows", "num_updated_rows", "num_deleted_rows", "num_inserted_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val src = GraftSqlCommands.sourceDf(session, sourcePlan)
    shape match {
      case GraftMergeShape.InsertOnly =>
        // Insert-if-absent: anti-join the CURRENT key set, append the rest.
        // The anti-join is broadcast-or-shuffle by Catalyst's sizing; at
        // 100 TB the single-column key projection keeps the build side
        // minimal. NULL source keys can never match (Delta drops them in
        // the not-matched branch too — they'd insert; we keep them, same
        // as Delta, since NOT MATCHED is vacuously true for null keys).
        val existing = table.read().select(col(key))
        val novel = src.join(existing, Seq(key), "left_anti")
        val c = table.append(novel)
        val ins = c.metrics.getOrElse("numOutputRows", 0L)
        Seq(Row(ins, 0L, 0L, ins))
      case GraftMergeShape.DeleteMatched =>
        val c = table.deleteKeys(src.select(col(key)), key)
        val del = c.metrics.getOrElse("numDeletedRows", 0L)
        Seq(Row(del, 0L, del, 0L))
    }
  }
}

/** General `MERGE INTO` — the full Delta clause surface beyond the two
  * keyed shapes of [[GraftMergeCommand]]: ordered conditional
  * `WHEN MATCHED [AND c] THEN UPDATE SET …`/`UPDATE SET *`/`DELETE`,
  * `WHEN NOT MATCHED [AND c] THEN INSERT …`/`INSERT *`, and
  * `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET …`/`DELETE`,
  * mapped 1:1 onto [[GraftTable.mergeClauses]]. Clause conditions and
  * values resolve against the join sides aliased with the statement's OWN
  * target/source aliases, so `t.v > s.v` in the SQL binds exactly as
  * written. Parsed actions ride in the [[GraftParsed]] envelope — they
  * can only resolve at run time against the joined table read. */
case class GraftMergeClausesCommand(
    table: GraftTable,
    sourcePlan: LogicalPlan,
    keys: Seq[String],
    onExtra: GraftParsed[Option[Expression]],
    matched: GraftParsed[Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]],
    notMatched: GraftParsed[Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]],
    notMatchedBySource: GraftParsed[Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]],
    targetAlias: String,
    sourceAlias: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs(
    "num_affected_rows", "num_updated_rows", "num_deleted_rows", "num_inserted_rows")

  override def run(session: SparkSession): Seq[Row] = {
    def colOf(e: Expression) = ExpressionUtils.column(e)
    def clause(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction) =
      GraftSqlCommands.mergeClauseOf(a, targetAlias)
    val src = GraftSqlCommands.sourceDf(session, sourcePlan)
    val c = table.mergeClausesOn(src, keys, onExtra.value.map(colOf),
      matched = matched.value.map(clause),
      notMatched = notMatched.value.map(clause),
      notMatchedBySource = notMatchedBySource.value.map(clause),
      targetAlias = targetAlias, sourceAlias = sourceAlias)
    val upd = c.metrics.getOrElse("numTargetRowsUpdated", 0L)
    val del = c.metrics.getOrElse("numTargetRowsDeleted", 0L)
    val ins = c.metrics.getOrElse("numTargetRowsInserted", 0L)
    Seq(Row(upd + del + ins, upd, del, ins))
  }
}

/** `OPTIMIZE t [WHERE pred] [ZORDER BY (c, …)]` — Delta's compaction
  * statement (S19, spark_delta_handler.py:282-289 runs the API form). */
case class GraftOptimizeCommand(
    table: GraftTable,
    where: GraftParsed[Option[Expression]],
    zorderBy: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs(
    "num_files_kept", "num_output_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val c = where.value match {
      case Some(p) => table.optimizeWhere(
        ExpressionUtils.column(GraftSqlCommands.stripQualifiers(p, Nil)),
        zorderBy = zorderBy)
      case None => table.optimize(zorderBy = zorderBy)
    }
    Seq(Row(c.dataDirs.size.toLong, c.metrics.getOrElse("numOutputRows", 0L)))
  }
}

/** `VACUUM t [RETAIN n HOURS] [DRY RUN]` (S18; default retention 168 h
  * as the reference configures, docker-compose.yml spark-defaults).
  * DRY RUN lists what would be removed without deleting, as in Delta. */
/** ALTER TABLE … ALTER COLUMN c SET DEFAULT <expr> / DROP DEFAULT —
  * Delta's column-defaults surface. Each (column, Some(sql)) sets, each
  * (column, None) drops. */
case class GraftColumnDefaultCommand(
    table: GraftTable,
    changes: Seq[(String, Option[String])]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Nil

  override def run(session: SparkSession): Seq[Row] = {
    changes.foreach {
      case (col, Some(sql)) => table.setColumnDefault(col, sql)
      case (col, None) => table.dropColumnDefault(col)
    }
    Nil
  }
}

/** ALTER TABLE … DROP FEATURE <name> [TRUNCATE HISTORY] — Delta's feature
  * downgrade statement, routed to [[GraftTable.dropFeature]]. */
case class GraftDropFeatureCommand(
    table: GraftTable,
    feature: String,
    truncateHistory: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(table.dropFeature(feature, truncateHistory).version))
}

/** `INSERT INTO delta.`path` <query>` — the foreign-writer append verb
  * ([[graft.sources.DeltaExport.appendToForeign]]): the query's rows
  * commit into a pure Delta table (one no graft log governs) that other
  * engines keep reading. Returns the committed Delta version. */
case class GraftForeignInsertCommand(
    path: String,
    query: GraftParsed[LogicalPlan]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(graft.sources.DeltaExport.appendToForeign(session, path,
      GraftSqlCommands.sourceDf(session, query.value))))
}

/** `DELETE FROM delta.`path` WHERE cond` — the foreign-writer delete verb
  * ([[graft.sources.DeltaExport.deleteFromForeign]]): matching rows are
  * recorded deleted via deletion vectors, no data file rewritten. */
case class GraftForeignDeleteCommand(
    path: String,
    condition: GraftParsed[Expression]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("num_affected_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val (_, n) = graft.sources.DeltaExport.deleteFromForeign(session, path,
      ExpressionUtils.column(condition.value))
    Seq(Row(n))
  }
}

/** `UPDATE delta.`path` SET c = e, … [WHERE cond]` — the foreign-writer
  * DV-update verb ([[graft.sources.DeltaExport.updateForeign]]). */
case class GraftForeignUpdateCommand(
    path: String,
    assignments: GraftParsed[Seq[(String, Expression)]],
    condition: GraftParsed[Option[Expression]]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("num_affected_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val cond = condition.value.map(ExpressionUtils.column).getOrElse(lit(true))
    val assigns = assignments.value
      .map { case (k, e) => k -> ExpressionUtils.column(e) }.toMap
    val (_, n) = graft.sources.DeltaExport.updateForeign(
      session, path, cond, assigns)
    Seq(Row(n))
  }
}

/** `MERGE INTO delta.`path` USING src ON t.k = s.k WHEN MATCHED THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — the foreign-writer CDC
  * upsert ([[graft.sources.DeltaExport.mergeForeignUpsert]]). */
case class GraftForeignMergeCommand(
    path: String,
    source: LogicalPlan,
    key: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    GraftSqlCommands.metricAttrs("num_updated_rows", "num_inserted_rows")

  override def run(session: SparkSession): Seq[Row] = {
    val (_, u, i) = graft.sources.DeltaExport.mergeForeignUpsert(
      session, path, GraftSqlCommands.sourceDf(session, source), key)
    Seq(Row(u, i))
  }
}

/** General `MERGE INTO delta.`path`` — the full clause surface on a
  * FOREIGN Delta table ([[graft.sources.DeltaExport.mergeForeignClauses]]):
  * ordered conditional matched UPDATE/DELETE, guarded INSERT,
  * NOT MATCHED BY SOURCE, compound equi keys. The same statement a
  * delta-spark user types today, now executable against a table graft
  * does not govern. */
case class GraftForeignMergeClausesCommand(
    path: String,
    sourcePlan: LogicalPlan,
    keys: Seq[String],
    onExtra: GraftParsed[Option[Expression]],
    matched: GraftParsed[Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]],
    notMatched: GraftParsed[Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]],
    notMatchedBySource: GraftParsed[Seq[org.apache.spark.sql.catalyst.plans.logical.MergeAction]],
    targetAlias: String,
    sourceAlias: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs(
    "num_affected_rows", "num_updated_rows", "num_deleted_rows", "num_inserted_rows")

  override def run(session: SparkSession): Seq[Row] = {
    def clause(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction) =
      GraftSqlCommands.mergeClauseOf(a, targetAlias)
    val (_, upd, del, ins) = graft.sources.DeltaExport.mergeForeignClauses(
      session, path, GraftSqlCommands.sourceDf(session, sourcePlan), keys,
      matched = matched.value.map(clause),
      notMatched = notMatched.value.map(clause),
      notMatchedBySource = notMatchedBySource.value.map(clause),
      targetAlias = targetAlias, sourceAlias = sourceAlias,
      onExtra = onExtra.value.map(ExpressionUtils.column))
    Seq(Row(upd + del + ins, upd, del, ins))
  }
}

/** `OPTIMIZE delta.`path`` — foreign-table compaction
  * ([[graft.sources.DeltaExport.optimizeForeign]]). */
case class GraftForeignOptimizeCommand(path: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    GraftSqlCommands.metricAttrs("num_removed_files", "num_added_files")

  override def run(session: SparkSession): Seq[Row] = {
    val (_, removed, added) =
      graft.sources.DeltaExport.optimizeForeign(session, path)
    Seq(Row(removed, added))
  }
}

/** `VACUUM delta.`path` [RETAIN n HOURS] [DRY RUN]` — foreign-table
  * file-level vacuum ([[graft.sources.DeltaExport.vacuumForeign]]). */
case class GraftForeignVacuumCommand(
    path: String,
    retainHours: Option[Double],
    dryRun: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    GraftSqlCommands.metricAttrs("num_deleted_files")

  override def run(session: SparkSession): Seq[Row] = {
    val removed = retainHours match {
      case Some(h) => graft.sources.DeltaExport.vacuumForeign(
        session, path, retentionHours = h, dryRun = dryRun)
      case None => graft.sources.DeltaExport.vacuumForeign(
        session, path, dryRun = dryRun)
    }
    Seq(Row(removed.size.toLong))
  }
}

/** `RESTORE TABLE delta.`path` TO VERSION AS OF n` — foreign-table
  * restore ([[graft.sources.DeltaExport.restoreForeign]]). */
/** `ALTER TABLE delta.`path` SET/UNSET TBLPROPERTIES` — the foreign
  * adoption verb ([[graft.sources.DeltaExport.setForeignProperties]]):
  * merges properties, validates new CHECK constraints against current
  * rows, and upgrades the protocol when a property requires a table
  * feature. */
case class GraftForeignSetPropertiesCommand(
    path: String,
    props: Map[String, String],
    unsetKeys: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    GraftSqlCommands.metricAttrs("version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(graft.sources.DeltaExport.setForeignProperties(
      session, path, props, unsetKeys)))
}

/** `ALTER TABLE delta.`path` RENAME COLUMN a TO b` — metadata-only
  * logical rename on a column-mapped foreign table
  * ([[graft.sources.DeltaExport.renameForeignColumn]]). */
case class GraftForeignRenameColumnCommand(
    path: String, from: String, to: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    GraftSqlCommands.metricAttrs("version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(graft.sources.DeltaExport.renameForeignColumn(
      session, path, from, to)))
}

/** `SHOW TBLPROPERTIES delta.`path`` — the foreign table's current
  * configuration, straight off the snapshot's metaData. */
case class GraftForeignShowPropertiesCommand(
    path: String, key: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("value", org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val props = graft.sources.DeltaImport
      .snapshot(session, path).configuration
    key match {
      case Some(k) => Seq(Row(k, props.getOrElse(k,
        s"Table delta.`$path` does not have property: $k")))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

case class GraftForeignRestoreCommand(path: String, version: Long)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    GraftSqlCommands.metricAttrs("num_restored_files", "num_removed_files")

  override def run(session: SparkSession): Seq[Row] = {
    val (_, added, removed) =
      graft.sources.DeltaExport.restoreForeign(session, path, version)
    Seq(Row(added, removed))
  }
}

case class GraftVacuumCommand(
    table: GraftTable,
    retainHours: Option[Double],
    dryRun: Boolean = false,
    full: Boolean = false) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("num_deleted_dirs")

  override def run(session: SparkSession): Seq[Row] = {
    val removed = retainHours match {
      case Some(h) => table.vacuum(retentionHours = h, dryRun = dryRun, full = full)
      case None => table.vacuum(dryRun = dryRun, full = full)
    }
    Seq(Row(removed.size.toLong))
  }
}

/** `DESCRIBE HISTORY t` (S7) — the commit log as a relation, newest
  * first, same shape as [[GraftTable.history]] (which q14 oracles). */
/** `DESCRIBE HISTORY delta.`path`` — commit history of a FOREIGN Delta
  * table ([[graft.sources.DeltaImport.history]]), newest first. */
case class GraftForeignHistoryCommand(path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("timestamp",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("operation",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("operationMetrics",
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))))

  override def run(session: SparkSession): Seq[Row] =
    graft.sources.DeltaImport.history(session, path).collect().toSeq
}

case class GraftHistoryCommand(table: GraftTable) extends LeafRunnableCommand {

  // The history frame is built driver-side from the commit log (one row
  // per commit) — schema access and collect are both log-sized, not
  // data-sized.
  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(table.history().schema)

  override def run(session: SparkSession): Seq[Row] =
    table.history().collect().toSeq
}

/** `CREATE TABLE t [SHALLOW|DEEP] CLONE s [VERSION AS OF n] LOCATION p` —
  * Delta's clone statement. Shallow clone shares the source's data files
  * (zero copy, ownership-safe vacuum as the API form documents); deep
  * clone rewrites them. The new table is registered in the session
  * catalog as `USING graft` at the clone location, so SQL reads/DML on
  * the cloned name work immediately. */
case class GraftCloneCommand(
    source: GraftTable,
    targetName: Seq[String],
    shallow: Boolean,
    version: Option[Long],
    location: Option[String],
    orReplace: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("source_version")

  override def run(session: SparkSession): Seq[Row] = {
    val name = targetName.map(p => s"`$p`").mkString(".")
    val loc = location.getOrElse {
      val wh = session.sessionState.conf.warehousePath.stripSuffix("/")
      s"$wh/${targetName.last}"
    }
    val v = version.getOrElse(-1L)
    // OR REPLACE must actually replace: a prior clone at the same location
    // would make shallowClone/deepClone fail with "table already exists".
    // Only a graft table root is ever deleted — an arbitrary non-table
    // directory at the location keeps the clone's own existence error.
    if (orReplace) {
      session.sql(s"DROP TABLE IF EXISTS $name")
      if (graft.table.GraftTable.isTable(session, loc)) {
        val p = new org.apache.hadoop.fs.Path(loc)
        p.getFileSystem(session.sessionState.newHadoopConf()).delete(p, true)
      }
    }
    val cloned =
      if (shallow) source.shallowClone(loc, v) else source.deepClone(loc, v)
    session.sql(s"CREATE TABLE $name USING graft OPTIONS (path '${cloned.root}')")
    Seq(Row(version.getOrElse(source.version)))
  }
}

/** `CONVERT TO GRAFT parquet.`path`` — Delta's CONVERT TO DELTA for this
  * format: adopt a directory of loose parquet files in place as version 0
  * (no rewrite; q100's operation as SQL). */
case class GraftConvertCommand(path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(GraftTable.convert(session, path).version))
}

/** `CONVERT TO GRAFT delta.`path`` — adopt a DELTA table in place: live
  * snapshot files renamed into the graft v0 dir, schema / partitioning /
  * constraints carried over ([[GraftTable.convertFromDelta]]). */
case class GraftConvertFromDeltaCommand(path: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(GraftTable.convertFromDelta(session, path).version))
}

/** `GENERATE symlink_format_manifest FOR TABLE t` — Delta's manifest
  * statement (q105's operation as SQL): write the file listing engines
  * without a log reader consume. */
case class GraftGenerateManifestCommand(table: GraftTable)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("manifest_path", org.apache.spark.sql.types.StringType,
      nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(table.generateManifest().toString))
}

/** `DESCRIBE DETAIL t` — Delta's one-row table-metadata statement, the
  * SQL spelling of [[GraftTable.detail]] (format, location, file/byte
  * counts, partition columns, properties). */
case class GraftDetailCommand(table: GraftTable) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(table.detail().schema)

  override def run(session: SparkSession): Seq[Row] =
    table.detail().collect().toSeq
}

/** `COPY INTO t FROM 'path' FILEFORMAT = PARQUET [PATTERN = 'glob']` —
  * Delta's idempotent bulk load, the SQL spelling of
  * [[GraftTable.copyInto]]: only files never loaded before are appended,
  * the ledger rides in the commit itself, and re-running the statement
  * is a no-op. */
case class GraftCopyIntoCommand(
    table: GraftTable,
    srcDir: String,
    format: String,
    pattern: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs(
    "num_affected_rows", "num_inserted_files")

  override def run(session: SparkSession): Seq[Row] =
    table.copyInto(srcDir, pattern.getOrElse("*"), format) match {
      case Some(c) => Seq(Row(c.metrics.getOrElse("numOutputRows", 0L),
        c.copiedFiles.size.toLong))
      case None => Seq(Row(0L, 0L))
    }
}

/** `ALTER TABLE t ADD COLUMN[S] (c TYPE, …)` — the SQL spelling of the
  * metadata-only [[GraftTable.addColumn]] (M6 additive evolution; q101's
  * family as DDL). Top-level nullable columns only, like the API. */
case class GraftAddColumnsCommand(
    table: GraftTable,
    columns: Seq[(String, org.apache.spark.sql.types.DataType)]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(columns.map { case (n, dt) => table.addColumn(n, dt).version }.last))
}

/** `ALTER TABLE t DROP COLUMN[S] c, …` — metadata-only
  * [[GraftTable.dropColumn]]: bytes stay, no plan reads them, time travel
  * still serves history (Delta needs column mapping for this). */
case class GraftDropColumnsCommand(
    table: GraftTable,
    columns: Seq[String],
    ifExists: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] = {
    val present = table.read().schema.fieldNames.toSet
    val todo = if (ifExists) columns.filter(present.contains) else columns
    var v = table.version
    todo.foreach(c => v = table.dropColumn(c).version)
    Seq(Row(v))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — Delta's routing rule: with
  * column mapping in play (`graft.columnMapping.mode=name` set via
  * SET TBLPROPERTIES, or a mapping already active from an earlier
  * rename) the rename is METADATA-ONLY
  * ([[GraftTable.renameColumnMetadataOnly]] — one log entry at any
  * scale); otherwise the honest physical rewrite
  * ([[GraftTable.renameColumn]], which keeps files free of name
  * bookkeeping — see its scaladoc for the trade). */
case class GraftRenameColumnCommand(
    table: GraftTable,
    from: String,
    to: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(
      (if (table.columnMappingActive) table.renameColumnMetadataOnly(from, to)
       else table.renameColumn(from, to)).version))
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — metadata-only type
  * widening ([[GraftTable.widenColumnType]]): one log entry at any table
  * size, old files keep their narrow physical type and scans widen
  * natively (Delta's `typeWidening` routing — widening never rewrites). */
case class GraftWidenColumnCommand(
    table: GraftTable,
    changes: Seq[(String, org.apache.spark.sql.types.DataType)])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(changes.map { case (c, dt) =>
      table.widenColumnType(c, dt).version }.last))
}

/** `ALTER TABLE t CLUSTER BY (a, b)` / `CLUSTER BY NONE` — the liquid-
  * clustering declaration as a metadata commit ([[GraftTable.clusterBy]]);
  * subsequent bare `OPTIMIZE t` calls re-cluster on it. */
case class GraftClusterByCommand(
    table: GraftTable,
    cols: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(table.clusterBy(cols).version))
}

/** `ALTER TABLE t SET TBLPROPERTIES (k = v, …)` /
  * `UNSET TBLPROPERTIES [IF EXISTS] (k, …)` — user-namespace table
  * properties as logged commits ([[GraftTable.setProperties]]). */
case class GraftSetPropertiesCommand(
    table: GraftTable,
    props: Map[String, String],
    unsetKeys: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(
      if (unsetKeys.nonEmpty) table.unsetProperties(unsetKeys).version
      else table.setProperties(props).version))
}

/** `SHOW TBLPROPERTIES t [('key')]` — the user-visible property listing
  * (same rows `DESCRIBE DETAIL` carries as a map). */
case class GraftShowPropertiesCommand(
    table: GraftTable,
    key: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("value", org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val props = table.detail().head().getAs[Map[String, String]]("properties")
    key match {
      case Some(k) => Seq(Row(k, props.getOrElse(k,
        s"Table graft.`${table.root}` does not have property: $k")))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (pred)` /
  * `DROP CONSTRAINT [IF EXISTS] name` — [[GraftTable.addConstraint]]
  * (validates the existing snapshot first, like Delta) and
  * [[GraftTable.dropConstraint]]. */
case class GraftConstraintCommand(
    table: GraftTable,
    name: String,
    checkSql: Option[String], // Some = ADD, None = DROP
    ifExists: Boolean) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs("table_version")

  override def run(session: SparkSession): Seq[Row] = checkSql match {
    case Some(pred) => Seq(Row(table.addConstraint(name, pred).version))
    case None =>
      val known = table.constraints.contains(name)
      if (!known && !ifExists) throw new NoSuchElementException(
        s"table has no constraint '$name' (existing: " +
          s"${table.constraints.keys.mkString(", ")})")
      if (!known) Seq(Row(table.version))
      else Seq(Row(table.dropConstraint(name).version))
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n` / `TO TIMESTAMP AS OF ts`
  * (M12 — q113/q135's operation as SQL; the timestamp form resolves on
  * the same monotonicized history clock as time-travel reads). */
case class GraftRestoreCommand(table: GraftTable, version: Option[Long],
    tsMs: Option[Long] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = GraftSqlCommands.metricAttrs(
    "table_version", "restored_to_version")

  override def run(session: SparkSession): Seq[Row] = {
    val v = version.getOrElse(table.versionAsOf(tsMs.getOrElse(
      throw new IllegalArgumentException(
        "RESTORE needs VERSION AS OF or TIMESTAMP AS OF"))))
    val c = table.restore(v)
    Seq(Row(c.version, v))
  }
}
