package org.apache.spark.sql.graftnative

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{DeleteAction, DeleteFromTable, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DataType, StructType, TimestampType}

import graft.table.GraftTable

/** Delta's user-facing SQL surface for graft relations.
  *
  * Time travel:
  * {{{
  *   SELECT … FROM t VERSION AS OF 3
  *   SELECT … FROM t TIMESTAMP AS OF '2026-01-01 00:00:00'
  * }}}
  * Spark's own parser already accepts the temporal clause (it produces a
  * [[RelationTimeTravel]] node), but the stock analyzer resolves it only
  * for DSv2 catalog tables — a temp view or v1 table fails with
  * "time travel is not supported". This delegating parser rewrites the
  * node BEFORE analysis whenever the identifier names a graft relation —
  * a `USING graft` temp view or catalog table — into the pinned-version
  * read ([[GraftTable.readVersion]] / [[GraftTable.readAsOf]]).
  *
  * DML (`DELETE FROM` / `UPDATE` / `MERGE INTO`): the stock grammar parses
  * these into v2-command nodes that fail analysis for v1 relations
  * ("DELETE is only supported with v2 tables"); when the target is a graft
  * relation they are rewritten to the eager [[GraftDeleteCommand]] /
  * [[GraftUpdateCommand]] / [[GraftMergeCommand]] adapters over the
  * transactional [[GraftTable]] operations (the same calls the reference
  * makes through the Python Delta APIs, spark_delta_handler.py:160-236).
  *
  * Utility statements the stock grammar cannot parse at all (`OPTIMIZE` /
  * `VACUUM` / `DESCRIBE HISTORY` / `RESTORE TABLE`) are recognized
  * text-first; if the named table is graft's, the corresponding command
  * runs, otherwise the text goes to the delegate untouched so non-graft
  * behavior (including its parse errors) is unchanged. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    utilityStatement(sqlText).getOrElse(rewrite(delegate.parsePlan(sqlText)))

  override def parseQuery(sqlText: String): LogicalPlan =
    rewrite(delegate.parseQuery(sqlText))

  // Parameterized SQL (spark.sql(text, args)) enters through this default
  // method; without explicit delegation the interface default would skip
  // the real parser's parameter machinery.
  override def parsePlanWithParameters(sqlText: String,
      parameterContext: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan =
    utilityStatement(sqlText).getOrElse(
      rewrite(delegate.parsePlanWithParameters(sqlText, parameterContext)))

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) =>
          val df = (ver, ts) match {
            case (Some(v), _) =>
              val n = try v.trim.toLong catch {
                case _: NumberFormatException => throw new IllegalArgumentException(
                  s"graft VERSION AS OF needs an integer version, got '$v'")
              }
              t.readVersion(n)
            case (None, Some(e)) => t.readAsOf(evalTsMillis(e))
            case _ => t.read()
          }
          SubqueryAlias(u.multipartIdentifier.last, df.queryExecution.logical)
        case None => tt // not graft's — stock resolution (and its errors) apply
      }

    // INSERT INTO a graft relation: swap the (possibly stale) stored
    // temp-view plan for a FRESHLY resolved relation, so post-creation
    // DDL — ADD COLUMNS, SET DEFAULT — is visible to the insert. The
    // fresh relation's schema carries CURRENT_DEFAULT field metadata,
    // which stock ResolveDefaultColumns reads to fill omitted columns
    // and DEFAULT keywords; the engine has no insert path of its own.
    case i: logical.InsertIntoStatement =>
      i.table match {
        case u: UnresolvedRelation =>
          graftTableOf(u.multipartIdentifier) match {
            case Some(t) =>
              val fresh = new GraftDataSource().createRelation(
                session.sqlContext, Map("path" -> t.root))
              i.copy(table = SubqueryAlias(u.multipartIdentifier.last,
                LogicalRelation(fresh, isStreaming = false)))
            case None => i
          }
        case _ => i
      }

    case d @ DeleteFromTable(target, cond) =>
      dmlTargetOf(target) match {
        case Some((t, quals)) => GraftDeleteCommand(t, GraftParsed(Option(cond)), quals)
        case None => d
      }

    case u @ UpdateTable(target, assignments, cond) =>
      dmlTargetOf(target) match {
        case Some((t, quals)) =>
          val assigns = assignments.map { a =>
            a.key match {
              case k: UnresolvedAttribute => (k.nameParts, a.value)
              case other => throw new UnsupportedOperationException(
                s"graft SQL UPDATE: unsupported assignment target ${other.sql}")
            }
          }
          GraftUpdateCommand(t, GraftParsed(assigns), GraftParsed(cond), quals)
        case None => foreignDeltaPathOf(target) match {
          // `UPDATE delta.`path` SET … WHERE …` — the foreign writer's
          // DV-update verb; stock Spark could never resolve the target.
          case Some(path) =>
            val assigns = assignments.map { a =>
              a.key match {
                case k: UnresolvedAttribute => (k.nameParts.last, a.value)
                case other => throw new UnsupportedOperationException(
                  s"foreign SQL UPDATE: unsupported assignment target ${other.sql}")
              }
            }
            GraftForeignUpdateCommand(path, GraftParsed(assigns),
              GraftParsed(cond))
          case None => u
        }
      }

    case m: MergeIntoTable =>
      dmlTargetOf(m.targetTable) match {
        case Some((t, quals)) =>
          val (keys, onExtra) = mergeOnOf(m.mergeCondition)
          mergeShapeOf(m) match {
            // Insert-if-absent and keyed delete keep their own keyed
            // paths (anti-join append, deleteKeys) — single bare equi key
            // only.
            case Some(shape) if keys.length == 1 && onExtra.isEmpty =>
              GraftMergeCommand(t, m.sourceTable, keys.head, shape)
            // Everything else — conditional clauses, explicit assignment
            // lists, NOT MATCHED BY SOURCE, multi-key or predicated ON —
            // runs the general row-level merge with the statement's own
            // aliases.
            case _ => GraftMergeClausesCommand(t, m.sourceTable, keys,
              GraftParsed(onExtra),
              GraftParsed(m.matchedActions), GraftParsed(m.notMatchedActions),
              GraftParsed(m.notMatchedBySourceActions),
              targetAlias = quals.head, sourceAlias = sourceAliasOf(m.sourceTable))
          }
        case None => foreignDeltaPathOf(m.targetTable) match {
          // `MERGE INTO delta.`path` … WHEN MATCHED THEN UPDATE SET * WHEN
          // NOT MATCHED THEN INSERT *` — the foreign writer's CDC upsert.
          case Some(path) =>
            val (keys, onExtra) = mergeOnOf(m.mergeCondition)
            val upsertAll = m.notMatchedBySourceActions.isEmpty &&
              (m.matchedActions match {
                case Seq(UpdateStarAction(None)) => true; case _ => false }) &&
              (m.notMatchedActions match {
                case Seq(InsertStarAction(None)) => true; case _ => false })
            if (upsertAll && keys.length == 1 && onExtra.isEmpty)
              GraftForeignMergeCommand(path, m.sourceTable, keys.head)
            // Every other clause shape — conditional matched UPDATE/
            // DELETE, guarded INSERT, NOT MATCHED BY SOURCE, compound
            // keys, predicated ON — runs the foreign general merge.
            else
              GraftForeignMergeClausesCommand(path, m.sourceTable, keys,
                GraftParsed(onExtra),
                GraftParsed(m.matchedActions),
                GraftParsed(m.notMatchedActions),
                GraftParsed(m.notMatchedBySourceActions),
                targetAlias = foreignTargetAliasOf(m.targetTable),
                sourceAlias = sourceAliasOf(m.sourceTable))
          case None => m
        }
      }

    // ALTER TABLE family: the stock grammar parses these into v2 nodes
    // whose UnresolvedTable child fails analysis for temp views / v1
    // tables; when the name is a graft relation they become the
    // metadata-commit operations (addColumn/dropColumn/renameColumn/
    // set-unset properties/constraints). Non-graft names keep stock
    // behavior, including its errors.
    case a @ logical.AddColumns(u: UnresolvedTable, cols) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) =>
          val specs = cols.map { qc =>
            if (qc.path.nonEmpty || qc.position.nonEmpty || qc.default.nonEmpty)
              throw new UnsupportedOperationException(
                "graft ADD COLUMN supports top-level columns without " +
                  "position/default clauses")
            qc.colName -> qc.dataType
          }
          GraftAddColumnsCommand(t, specs)
        case None => a
      }
    case d @ logical.DropColumns(u: UnresolvedTable, cols, ifExists) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) =>
          val names = cols.map { fn =>
            fn.name match {
              case Seq(one) => one
              case other => throw new UnsupportedOperationException(
                s"graft DROP COLUMN supports top-level columns, got ${other.mkString(".")}")
            }
          }
          GraftDropColumnsCommand(t, names, ifExists)
        case None => d
      }
    case r @ logical.RenameColumn(u: UnresolvedTable, column, newName) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) if column.name.length == 1 =>
          GraftRenameColumnCommand(t, column.name.head, newName)
        case Some(_) => throw new UnsupportedOperationException(
          "graft RENAME COLUMN supports top-level columns")
        case None => foreignIdentPathOf(u.multipartIdentifier) match {
          // `ALTER TABLE delta.`path` RENAME COLUMN a TO b` — foreign
          // metadata-only rename (needs columnMapping.mode=name)
          case Some(p) if column.name.length == 1 =>
            GraftForeignRenameColumnCommand(p, column.name.head, newName)
          case Some(_) => throw new UnsupportedOperationException(
            "foreign RENAME COLUMN supports top-level columns")
          case None => r
        }
      }
    // ALTER COLUMN … TYPE: only the pure type-change form routes to the
    // metadata-only widen; any other spec (position/default/comment/
    // nullability) keeps stock behavior and its errors.
    case ac @ logical.AlterColumns(u: UnresolvedTable, specs) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) =>
          def onlyTypeChange(s: logical.AlterColumnSpec): Boolean =
            s.newDataType.nonEmpty && s.newNullability.isEmpty &&
              s.newComment.isEmpty && s.newPosition.isEmpty &&
              s.newDefaultExpression.isEmpty && !s.dropDefault
          def onlyDefaultChange(s: logical.AlterColumnSpec): Boolean =
            s.newDataType.isEmpty && s.newNullability.isEmpty &&
              s.newComment.isEmpty && s.newPosition.isEmpty &&
              (s.newDefaultExpression.nonEmpty || s.dropDefault)
          if (specs.forall(s => s.column.name.length == 1 && onlyDefaultChange(s)))
            GraftColumnDefaultCommand(t, specs.map(s =>
              (s.column.name.head, s.newDefaultExpression.map(_.originalSQL))))
          else {
            val changes = specs.map { s =>
              if (s.column.name.length != 1 || !onlyTypeChange(s))
                throw new UnsupportedOperationException(
                  "graft ALTER COLUMN supports `ALTER COLUMN c TYPE " +
                    "<wider-type>` (metadata-only widening) and " +
                    "`ALTER COLUMN c SET/DROP DEFAULT` on top-level columns")
              s.column.name.head -> s.newDataType.get
            }
            GraftWidenColumnCommand(t, changes)
          }
        case None => ac
      }
    // ALTER TABLE … CLUSTER BY (cols) / CLUSTER BY NONE → the clustering
    // declaration (a metadata commit; bare OPTIMIZE then clusters on it).
    case cb @ logical.AlterTableClusterBy(u: UnresolvedTable, spec) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) =>
          val cols = spec.map(_.columnNames.map { nr =>
            if (nr.fieldNames.length != 1)
              throw new UnsupportedOperationException(
                "graft CLUSTER BY supports top-level columns")
            nr.fieldNames.head
          }.toSeq).getOrElse(Nil)
          GraftClusterByCommand(t, cols)
        case None => cb
      }
    case sp @ logical.SetTableProperties(u: UnresolvedTable, props) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) => GraftSetPropertiesCommand(t, props, Nil)
        case None => foreignIdentPathOf(u.multipartIdentifier) match {
          // `ALTER TABLE delta.`path` SET TBLPROPERTIES (…)` — foreign
          // adoption verb (DV/CDF/ICT enablement, constraints, knobs)
          case Some(p) => GraftForeignSetPropertiesCommand(p, props, Nil)
          case None => sp
        }
      }
    case up @ logical.UnsetTableProperties(u: UnresolvedTable, keys, _) =>
      graftTableOf(u.multipartIdentifier) match {
        // absent keys are always a no-op removal, so IF EXISTS needs no
        // special case
        case Some(t) => GraftSetPropertiesCommand(t, Map.empty, keys)
        case None => foreignIdentPathOf(u.multipartIdentifier) match {
          case Some(p) => GraftForeignSetPropertiesCommand(p, Map.empty, keys)
          case None => up
        }
      }
    // AddCheckConstraint's child is `Filter(NOT pred, UnresolvedRelation)`
    // (the violation probe the stock analyzer would run) — the table name
    // sits in the inner relation, not an UnresolvedTable.
    // (child is UnresolvedTableOrView — SHOW accepts views too)
    case sh @ logical.ShowTableProperties(
        u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView, key, _) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) => GraftShowPropertiesCommand(t, key)
        case None => foreignIdentPathOf(u.multipartIdentifier) match {
          // `SHOW TBLPROPERTIES delta.`path`` — the foreign table's live
          // configuration (pairs with the foreign SET TBLPROPERTIES verb)
          case Some(p) => GraftForeignShowPropertiesCommand(p, key)
          case None => sh
        }
      }
    case ac: logical.AddCheckConstraint =>
      val rel = ac.child.collectFirst { case u: UnresolvedRelation => u }
      rel.flatMap(u => graftTableOf(u.multipartIdentifier)) match {
        case Some(t) =>
          GraftConstraintCommand(t, ac.checkConstraint.userProvidedName,
            Some(ac.checkConstraint.condition), ifExists = false)
        case None => ac
      }
    case dc @ logical.DropConstraint(u: UnresolvedTable, name, ifExists, _) =>
      graftTableOf(u.multipartIdentifier) match {
        case Some(t) => GraftConstraintCommand(t, name, None, ifExists)
        case None => dc
      }

    // Delta's CDF table-valued function:
    //   SELECT * FROM table_changes('t', startV [, endV])
    // Rewritten to GraftTable.readChanges when 't' names a graft relation;
    // non-graft names fall through to stock resolution (which errors,
    // since stock Spark has no such TVF — the right behavior).
    case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
        if tvf.name.length == 1 && tvf.name.head.equalsIgnoreCase("table_changes") =>
      tableChangesPlan(tvf)
  }

  private def tableChangesPlan(
      tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def bad(msg: String) = throw new IllegalArgumentException(
      s"table_changes(table, startVersion [, endVersion]): $msg")
    def str(e: Expression): Option[String] = e match {
      case Literal(v, _: org.apache.spark.sql.types.StringType) =>
        Option(v).map(_.toString)
      case _ => None
    }
    val args = tvf.functionArgs
    if (args.size < 2 || args.size > 3) bad(s"expected 2-3 arguments, got ${args.size}")
    val tname = str(args.head).getOrElse(
      bad("first argument must be a table name string literal"))
    val parts =
      try delegate.parseMultipartIdentifier(tname)
      catch { case scala.util.control.NonFatal(_) => Seq(tname) }
    graftTableOf(parts) match {
      case Some(t) =>
        // Delta's table_changes accepts versions (integers) OR commit
        // timestamps (string/timestamp literals) per bound; a timestamp
        // start resolves to the first commit at-or-after it, a timestamp
        // end to the last at-or-before (the adjusted-clock rules).
        def bound(e: Expression, isStart: Boolean): Long = e match {
          case Literal(v: java.lang.Number, t2)
              if !t2.isInstanceOf[org.apache.spark.sql.types.StringType] =>
            v.longValue
          case other =>
            val ts = try evalTsMillis(other) catch {
              case scala.util.control.NonFatal(_) => bad(
                s"bound must be an integer version or a timestamp, got ${other.sql}")
            }
            if (isStart) t.changesStartVersionAt(ts) else t.versionAsOf(ts)
        }
        val df =
          if (args.size == 3)
            t.readChanges(bound(args(1), isStart = true),
              bound(args(2), isStart = false))
          else t.readChanges(bound(args(1), isStart = true))
        SubqueryAlias("table_changes", df.queryExecution.logical)
      case None => tvf
    }
  }

  /** The graft table and resolvable qualifiers (alias and/or table name)
    * behind a DML target plan, if it is a graft relation. */
  /** A path-addressed `delta.`path`` DML target — the foreign writer's
    * addressing form (never resolvable by stock Spark here). */
  /** delta-spark's isPathIdentifier guard: `delta.`x`` is a FOREIGN
    * path address only when x actually looks like a filesystem path (a
    * '/' somewhere — absolute, relative-with-dirs, or scheme://). A bare
    * name like `delta.events` is a table in a catalog database that
    * happens to be called "delta" — stock Spark's fall-through must keep
    * resolving it, not get hijacked into treating "events" as a path. */
  private def looksLikePath(s: String): Boolean = s.contains("/")

  /** The identifier form of [[foreignDeltaPathOf]], for statements whose
    * target is an UnresolvedTable rather than a relation. */
  private def foreignIdentPathOf(ident: Seq[String]): Option[String] =
    ident match {
      case Seq(d, path) if d.equalsIgnoreCase("delta") &&
          looksLikePath(path) => Some(path)
      case _ => None
    }

  private def foreignDeltaPathOf(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
        u.multipartIdentifier.head.equalsIgnoreCase("delta") &&
        looksLikePath(u.multipartIdentifier.last) =>
      Some(u.multipartIdentifier.last)
    case SubqueryAlias(_, u: UnresolvedRelation)
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("delta") &&
          looksLikePath(u.multipartIdentifier.last) =>
      Some(u.multipartIdentifier.last)
    case _ => None
  }

  private def dmlTargetOf(p: LogicalPlan): Option[(GraftTable, Seq[String])] = p match {
    case u: UnresolvedRelation =>
      graftTableOf(u.multipartIdentifier).map((_, Seq(u.multipartIdentifier.last)))
    case SubqueryAlias(id, u: UnresolvedRelation) =>
      graftTableOf(u.multipartIdentifier)
        .map((_, Seq(id.name, u.multipartIdentifier.last).distinct))
    case _ => None
  }

  /** Decompose a MERGE ON condition: same-name `t.k = s.k` equi
    * conjuncts become the join keys; every other conjunct becomes the
    * extra match predicate ([[GraftTable.mergeClausesOn]] puts it in the
    * outer-join condition, giving Delta's compound-ON semantics). At
    * least one equi key is required — the join rewrite must never plan a
    * cartesian. */
  private def mergeOnOf(cond: Expression): (Seq[String], Option[Expression]) = {
    import org.apache.spark.sql.catalyst.expressions.And
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val (eqs, rest) = conjuncts(cond).partition {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        l.nameParts.last.equalsIgnoreCase(r.nameParts.last)
      case _ => false
    }
    val keys = eqs.collect {
      case EqualTo(l: UnresolvedAttribute, _) => l.nameParts.last
    }.distinct
    if (keys.isEmpty) throw new UnsupportedOperationException(
      "graft SQL MERGE requires ON to contain at least one " +
        "<target>.<key> = <source>.<key> equality (same column name on " +
        s"both sides), got: ${cond.sql}")
    (keys, rest.reduceOption(And))
  }

  /** The keyed shape, if the statement is exactly insert-if-absent or
    * keyed delete; None routes to the general clause merge.
    *
    * The bare upsert (`UPDATE SET * / INSERT *`) deliberately does NOT
    * short-circuit here: [[graft.table.GraftTable.merge]] drops null-key
    * source rows and change-detects matched rows, while
    * Delta inserts null-key rows (vacuously NOT MATCHED) and updates every
    * matched row — semantics identical SQL must not silently flip when a
    * clause condition is added. SQL MERGE therefore always runs the
    * Delta-faithful clause path; the change-detection upsert stays
    * available through the DataFrame API (the CDC pipeline's M2 path). */
  private def mergeShapeOf(m: MergeIntoTable): Option[GraftMergeShape] = {
    if (m.notMatchedBySourceActions.nonEmpty) return None
    (m.matchedActions, m.notMatchedActions) match {
      case (Seq(), Seq(InsertStarAction(None))) => Some(GraftMergeShape.InsertOnly)
      case (Seq(DeleteAction(None)), Seq()) => Some(GraftMergeShape.DeleteMatched)
      case _ => None
    }
  }

  /** The user-visible alias of the MERGE source — the name clause
    * conditions/values qualify with. An anonymous subquery source gets a
    * reserved alias (its columns are only reachable unqualified then,
    * same as Delta). */
  private def sourceAliasOf(p: LogicalPlan): String = p match {
    case SubqueryAlias(id, _) => id.name
    case u: UnresolvedRelation => u.multipartIdentifier.last
    case _ => "__graft_src"
  }

  /** The target alias of a `MERGE INTO delta.`path` [AS t]` statement —
    * clause conditions reference it; an unaliased target gets a private
    * alias (its columns then resolve unqualified when unambiguous). */
  private def foreignTargetAliasOf(p: LogicalPlan): String = p match {
    case SubqueryAlias(id, _) => id.name
    case _ => "__graft_tgt"
  }

  // ----------------------------------------------- utility statements
  // Recognized before delegation because the stock grammar has no rule
  // for them. The lazy identifier groups expand minimally, so optional
  // tail clauses (RETAIN / WHERE / ZORDER BY) bind correctly.

  private val HistoryRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+(.+?)(\s+LITE|\s+FULL)?(?:\s+RETAIN\s+([0-9.]+)\s+HOURS)?(\s+DRY\s+RUN)?\s*;?\s*$""".r
  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*$""".r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  private val RestoreTsRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?(.+?)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+(.+?)\s*;?\s*$""".r
  private val ConvertRe =
    """(?is)^\s*CONVERT\s+TO\s+GRAFT\s+parquet\s*\.\s*`([^`]+)`\s*;?\s*$""".r
  private val ConvertDeltaRe =
    """(?is)^\s*CONVERT\s+TO\s+GRAFT\s+delta\s*\.\s*`([^`]+)`\s*;?\s*$""".r
  private val GenerateRe =
    """(?is)^\s*GENERATE\s+symlink_format_manifest\s+FOR\s+TABLE\s+(.+?)\s*;?\s*$""".r
  // Foreign-writer verbs: path-addressed `delta.`…`` targets route to the
  // Delta writer bridge (stock Spark has no `delta` datasource here, so
  // these statements could never resolve otherwise).
  private val ForeignDeleteRe =
    """(?is)^\s*DELETE\s+FROM\s+delta\s*\.\s*`([^`]+)`\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val ForeignInsertRe =
    """(?is)^\s*INSERT\s+INTO\s+delta\s*\.\s*`([^`]+)`\s+(.+?)\s*;?\s*$""".r
  private val ForeignPathRe =
    """(?is)^\s*delta\s*\.\s*`([^`]+)`\s*$""".r
  private val CopyIntoRe =
    ("""(?is)^\s*COPY\s+INTO\s+(\S+)\s+FROM\s+'([^']+)'\s+FILEFORMAT\s*=\s*(\w+)""" +
      """(?:\s+PATTERN\s*=\s*'([^']+)')?\s*;?\s*$""").r
  private val DropFeatureRe =
    """(?is)^\s*ALTER\s+TABLE\s+(.+?)\s+DROP\s+FEATURE\s+(\w+)(\s+TRUNCATE\s+HISTORY)?\s*;?\s*$""".r
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+(\S+)\s+(?:(SHALLOW|DEEP)\s+)?CLONE\s+(\S+?)""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$""").r

  private def utilityStatement(sqlText: String): Option[LogicalPlan] = {
    def graft(ident: String): Option[GraftTable] =
      try graftTableOf(delegate.parseMultipartIdentifier(ident.trim))
      catch { case scala.util.control.NonFatal(_) => None }
    sqlText match {
      case HistoryRe(ident) => graft(ident).map(GraftHistoryCommand)
        .orElse(ident.trim match {
          case ForeignPathRe(p) => Some(GraftForeignHistoryCommand(p))
          case _ => None
        })
      case DetailRe(ident) => graft(ident).map(GraftDetailCommand)
      case ConvertRe(path) => Some(GraftConvertCommand(path.trim))
      case ConvertDeltaRe(path) => Some(GraftConvertFromDeltaCommand(path.trim))
      case ForeignDeleteRe(path, cond) => Some(GraftForeignDeleteCommand(
        path.trim, GraftParsed(delegate.parseExpression(cond.trim))))
      case ForeignInsertRe(path, query) => Some(GraftForeignInsertCommand(
        path.trim, GraftParsed(delegate.parsePlan(query.trim))))
      case GenerateRe(ident) => graft(ident).map(GraftGenerateManifestCommand)
      // Mode tokens follow delta-spark's VACUUM grammar: LITE is this
      // engine's log-driven default (named for symmetry), FULL adds the
      // untracked-debris listing pass.
      case VacuumRe(ident, mode, hours, dry) => graft(ident).map(t =>
        GraftVacuumCommand(t, Option(hours).map(_.toDouble), dryRun = dry != null,
          full = Option(mode).exists(_.trim.equalsIgnoreCase("FULL"))))
        .orElse(ident.trim match {
          // `VACUUM delta.`path`` — file-level vacuum of a foreign Delta
          // table (delta-spark's own semantics; LITE/FULL modes are graft
          // spellings and do not apply here).
          case ForeignPathRe(p) if mode == null =>
            Some(GraftForeignVacuumCommand(p,
              Option(hours).map(_.toDouble), dryRun = dry != null))
          case _ => None
        })
      case OptimizeRe(ident, where, zcols) => graft(ident).map { t =>
        GraftOptimizeCommand(t,
          GraftParsed(Option(where).map(w => delegate.parseExpression(w.trim))),
          Option(zcols).toSeq.flatMap(_.split(",")).map(_.trim.stripPrefix("`")
            .stripSuffix("`")).filter(_.nonEmpty))
      }.orElse(ident.trim match {
        // `OPTIMIZE delta.`path`` — compaction of a foreign Delta table
        // through the writer bridge (plain form only; WHERE/ZORDER stay
        // owning-engine concerns).
        case ForeignPathRe(p) if where == null && zcols == null =>
          Some(GraftForeignOptimizeCommand(p))
        case _ => None
      })
      case CopyIntoRe(ident, path, fmt, pat) => graft(ident).map(t =>
        GraftCopyIntoCommand(t, path, fmt.toLowerCase, Option(pat)))
      case DropFeatureRe(ident, feature, trunc) => graft(ident).map(t =>
        GraftDropFeatureCommand(t, feature, truncateHistory = trunc != null))
      case RestoreRe(ident, v) => graft(ident).map(t =>
        GraftRestoreCommand(t, Some(v.toLong)))
        .orElse(ident.trim match {
          // `RESTORE TABLE delta.`path` TO VERSION AS OF n`
          case ForeignPathRe(p) =>
            Some(GraftForeignRestoreCommand(p, v.toLong))
          case _ => None
        })
      case RestoreTsRe(ident, ts) => graft(ident).map(t =>
        GraftRestoreCommand(t, None,
          Some(evalTsMillis(delegate.parseExpression(ts.trim)))))
      case CloneRe(orReplace, target, kind, src, ver, loc) => graft(src).map { t =>
        GraftCloneCommand(t,
          try delegate.parseMultipartIdentifier(target.trim)
          catch { case scala.util.control.NonFatal(_) => Seq(target.trim) },
          shallow = Option(kind).exists(_.equalsIgnoreCase("shallow")),
          version = Option(ver).map(_.toLong),
          location = Option(loc),
          orReplace = orReplace != null)
      }
      case _ => None
    }
  }

  /** Evaluate the temporal-clause expression to epoch millis (literals and
    * foldable casts; the session time zone applies to naive strings). */
  private def evalTsMillis(e: Expression): Long = {
    val zone = session.sessionState.conf.sessionLocalTimeZone
    val cast = Cast(e, TimestampType, Some(zone))
    cast.eval(null) match {
      // Non-ANSI Cast yields null for a malformed timestamp string —
      // surface it (null.asInstanceOf[Long] would silently read epoch 0).
      case null => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF: cannot parse '${e.sql}' as a timestamp")
      case micros: Long => Math.floorDiv(micros, 1000L)
      case other => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF: unexpected value $other for '${e.sql}'")
    }
  }

  /** The graft table behind an identifier: a temp/global-temp view whose
    * stored plan is a `USING graft` relation, or a `USING graft` catalog
    * table (path in storage properties). */
  private def graftTableOf(name: Seq[String]): Option[GraftTable] = {
    val cat = session.sessionState.catalog
    def extract(p: LogicalPlan): Option[GraftTable] = p.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[GraftRelation] =>
        lr.relation.asInstanceOf[GraftRelation].headTable.map(_._1)
    }.flatten
    // Temp views register under the conf-formatted (lowercased) name; an
    // as-typed miss retries lowercased so quoted/cased SQL still resolves.
    def view(lookup: String => Option[LogicalPlan], v: String): Option[GraftTable] =
      lookup(v).orElse(lookup(v.toLowerCase)).flatMap(extract)
    val fromView = name match {
      case Seq(v) => view(cat.getTempView(_), v)
      case Seq(g, v) if g.equalsIgnoreCase("global_temp") =>
        view(cat.getGlobalTempView(_), v)
      case _ => None
    }
    fromView.orElse {
      val ident = name match {
        case Seq(t) => Some(TableIdentifier(t))
        case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
        case _ => None
      }
      ident.flatMap { ti =>
        try {
          val meta = cat.getTableMetadata(ti)
          if (meta.provider.exists(_.equalsIgnoreCase("graft")))
            meta.storage.properties.get("path")
              .orElse(meta.storage.locationUri.map(_.toString))
              .map(p => GraftTable.forPath(session, p))
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    }
  }

  // ------------------------------------------------- pure delegation below

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
