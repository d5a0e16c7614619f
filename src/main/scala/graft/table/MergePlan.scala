package graft.table

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** One row-level clause of a general MERGE ([[GraftTable.mergeClauses]]) —
  * Delta's `WHEN MATCHED [AND cond] THEN …` / `WHEN NOT MATCHED …` /
  * `WHEN NOT MATCHED BY SOURCE …` family. Clause conditions and assignment
  * values are arbitrary [[Column]]s over the two join sides (qualify with
  * the target/source aliases passed to `mergeClauses`); within one branch,
  * clauses are evaluated in order and the FIRST whose condition holds
  * applies to the row (Delta's contract). */
sealed trait MergeClause { def condition: Option[Column] }
object MergeClause {
  /** `UPDATE SET *` — every column the source carries takes the source
    * value; target-only columns keep their value, and so does an identity
    * column (its ids are the engine's). Matched branch only. */
  case class UpdateAll(condition: Option[Column] = None) extends MergeClause
  /** `UPDATE SET c = expr, …` — explicit assignments (keys are target
    * column names, case-insensitive); unassigned columns keep the target
    * value. Matched and not-matched-by-source branches. */
  case class Update(assignments: Map[String, Column],
      condition: Option[Column] = None) extends MergeClause
  /** `DELETE` — the target row leaves the snapshot. Matched and
    * not-matched-by-source branches. */
  case class Delete(condition: Option[Column] = None) extends MergeClause
  /** `INSERT *` — source values for source columns, null for target-only
    * columns. Not-matched branch only. */
  case class InsertAll(condition: Option[Column] = None) extends MergeClause
  /** `INSERT (c, …) VALUES (expr, …)` — explicit column list; unassigned
    * columns insert null. Not-matched branch only. */
  case class Insert(assignments: Map[String, Column],
      condition: Option[Column] = None) extends MergeClause
}

/** One MERGE's clause algebra over ONE join of a target frame and a
  * source — the single evaluation of Delta's MERGE semantics that every
  * graft writer runs: the native rewrite ([[GraftTable.mergeClausesOn]]),
  * the native positional MERGE ([[GraftTable.mergeClausesPositional]]) and
  * the foreign clause merge
  * ([[graft.sources.DeltaExport.mergeForeignClauses]]). Within each branch
  * the FIRST clause whose condition holds claims the row; a target row no
  * clause claims is carried unchanged, a source row no clause claims is
  * dropped — per-row CASE/WHEN on the single join, so every expression
  * stays inside whole-stage codegen whatever the clause count.
  *
  * The writer decides what it reads and how the result lands; the plan
  * decides what each joined row becomes:
  *   - `schema` is the statement's output schema — the writer's choice
  *     (native star clauses evolve it, foreign merges never do) — and
  *     `target` carries its columns plus anything the writer reads back
  *     from the join (row positions);
  *   - `rows(which)` are the post-images of the joined rows the statement
  *     keeps and `which` selects; `claimed` marks a target row some
  *     matched or not-matched-by-source clause claims, `keep` a row that
  *     survives the statement (not deleted; a source row only by INSERT);
  *   - `targetRows(which)` are the target images of the selected rows, and
  *     `changes` the statement's CDF images.
  *
  * Every image recomputes the `generated` columns (name → SQL expression)
  * over its post-assignment values. An `idSteps` identity column an
  * image leaves null is allocated `idHwm + step·(1 + n)`, `n` a per-row
  * counter fixed in the join (`monotonically_increasing_id`, which a
  * persisted join evaluates once), so a written row and its change-feed
  * image carry the same id; `UPDATE SET *` keeps the target's id.
  *
  * A rewrite (`positioned = false`) full-outer-joins, so every target row
  * reaches a branch; it is evaluated per read unless identity ids must
  * agree across reads, when it persists. A positioned plan right-outer-
  * joins — a target row no source row matches is never written, so it
  * need not reach the output — unless a NOT MATCHED BY SOURCE clause reads
  * every target row (full outer), and persists the join. That join runs
  * at the parallelism its inputs give it; its output is repartitioned to
  * one partition per 128 MB of its inputs' estimated size (at most the
  * shuffle partitions, since a source with no statistics estimates as
  * unbounded) before it is cached, so each write of it lands as that many
  * files. A coalesce there would pull the join itself into that many
  * tasks. [[release]] drops the cache. */
private[graft] final class MergePlan(target: DataFrame, val schema: StructType,
    source: DataFrame, keys: Seq[String], onExtra: Option[Column],
    matched: Seq[MergeClause], notMatched: Seq[MergeClause],
    notMatchedBySource: Seq[MergeClause], targetAlias: String,
    sourceAlias: String, generated: Map[String, String],
    idSteps: Map[String, Long], val idHwm: Map[String, Long],
    positioned: Boolean, nullSafe: Boolean = false) {
  import MergeClause._

  private val sourceCols = source.columns.map(_.toLowerCase).toSet
  private val fieldOf = schema.fields.map(f => f.name -> f).toMap
  private val outCols = schema.fieldNames.toSeq
  // Assignment keys resolve case-insensitively against the schema.
  private def canon(n: String): String = fieldOf.getOrElse(n,
    schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
      throw new IllegalArgumentException(
        s"MERGE assignment target '$n' is not a column of the table " +
          s"(columns: ${schema.fieldNames.mkString(", ")})"))).name
  private def canonical(cl: MergeClause): MergeClause = cl match {
    case Update(as, c) => Update(as.map { case (k, ve) => canon(k) -> ve }, c)
    case Insert(as, c) => Insert(as.map { case (k, ve) => canon(k) -> ve }, c)
    case other => other
  }
  private val (mCl, iCl, bCl) = (matched.map(canonical),
    notMatched.map(canonical), notMatchedBySource.map(canonical))
  private def tCol(c: String): Column = col(s"$targetAlias.`$c`")
  private def sCol(c: String): Column = col(s"$sourceAlias.`$c`")

  // Side-presence markers survive the outer join where a null business
  // key would lie about its side (a target row with a null key is
  // present, merely unmatchable).
  private val tp = "__graft_t_present"
  private val sp = "__graft_s_present"
  private val idSeq = "__graft_id_seq"

  val joined: DataFrame = {
    val t = target.withColumn(tp, lit(true)).alias(targetAlias)
    // A null source key can never equi-match and Delta's NOT MATCHED
    // branch still sees it (vacuously unmatched) — keep such rows. A
    // null-safe plan matches it to a null target key instead (`<=>` still
    // plans as an equi-join).
    val s = source.withColumn(sp, lit(true)).alias(sourceAlias)
    val equi = keys.map(k => if (nullSafe) tCol(k) <=> sCol(k) else tCol(k) === sCol(k))
      .reduce(_ && _)
    val on = onExtra.fold(equi)(equi && _)
    def numbered(j: DataFrame): DataFrame =
      if (idSteps.isEmpty) j else j.withColumn(idSeq, monotonically_increasing_id())
    if (!positioned) {
      val j = numbered(t.join(s, on, "full_outer"))
      if (idSteps.isEmpty) j else j.persist()
    } else {
      val bySource = notMatchedBySource.nonEmpty
      def est(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val n = ((est(source) + (if (bySource) est(target) else BigInt(0))) /
          (128L * 1024 * 1024) + 1)
        .min(BigInt(source.sparkSession.sessionState.conf.numShufflePartitions)).toInt
      numbered(t.join(s, on, if (bySource) "full_outer" else "right_outer")
        .repartition(n)).persist()
    }
  }

  val tPresent: Column = col(s"$targetAlias.$tp").isNotNull
  private val sPresent = col(s"$sourceAlias.$sp").isNotNull

  private def condOf(cl: MergeClause): Column =
    cl.condition.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
  // First-true clause index per branch; -1 = no clause claims the row.
  private def firstIdx(cls: Seq[MergeClause]): Column =
    cls.zipWithIndex.foldRight(lit(-1): Column) { case ((cl, i), els) =>
      when(condOf(cl), lit(i)).otherwise(els)
    }
  private val mIdx = firstIdx(mCl)
  private val iIdx = firstIdx(iCl)
  private val bIdx = firstIdx(bCl)

  // The value column `c` takes under clause `cl` (post-image).
  private def clauseVal(cl: MergeClause, c: String): Column = {
    val f = fieldOf(c)
    cl match {
      // Source-column presence checks are case-insensitive; the alias
      // reference itself resolves case-insensitively in analysis.
      case _: UpdateAll =>
        if (sourceCols.contains(c.toLowerCase) && !idSteps.contains(c))
          sCol(c).cast(f.dataType)
        else tCol(c)
      case Update(as, _) => as.get(c).map(_.cast(f.dataType)).getOrElse(tCol(c))
      case _: InsertAll =>
        if (sourceCols.contains(c.toLowerCase)) sCol(c).cast(f.dataType)
        else lit(null).cast(f.dataType)
      case Insert(as, _) => as.get(c).map(_.cast(f.dataType))
        .getOrElse(lit(null).cast(f.dataType))
      case _: Delete => lit(null).cast(f.dataType) // row never materializes
    }
  }
  // An identity column's image value, allocated where the image left it null.
  private def withId(c: String, v: Column): Column =
    idSteps.get(c).fold(v) { step =>
      coalesce(v, GraftTable.identityValue(idHwm(c), step, col(idSeq))
        .cast(fieldOf(c).dataType))
    }
  private def branchVal(cls: Seq[MergeClause], idx: Column, default: Column,
      c: String): Column =
    cls.zipWithIndex.foldRight(default) { case ((cl, i), els) =>
      cl match {
        case _: Delete => els // deleted rows are filtered out by `keep`
        case _ => when(idx === i, clauseVal(cl, c)).otherwise(els)
      }
    }
  private def outVal(c: String): Column =
    withId(c,
      when(tPresent && sPresent, branchVal(mCl, mIdx, tCol(c), c))
        .when(tPresent && !sPresent, branchVal(bCl, bIdx, tCol(c), c))
        .otherwise(branchVal(iCl, iIdx, lit(null).cast(fieldOf(c).dataType), c)))
      .as(c)
  private def isDeleted(cls: Seq[MergeClause], idx: Column): Column =
    cls.zipWithIndex.collect { case (_: Delete, i) => idx === i }
      .reduceOption(_ || _).getOrElse(lit(false))

  val keep: Column =
    when(tPresent && sPresent, !isDeleted(mCl, mIdx))
      .when(tPresent && !sPresent, !isDeleted(bCl, bIdx))
      .otherwise(iIdx >= 0) // source-only rows exist only via INSERT
  val claimed: Column = tPresent && when(sPresent, mIdx >= 0).otherwise(bIdx >= 0)

  def rows(which: Column): DataFrame = MergePlan.withGenerated(
    joined.filter(keep && which).select(outCols.map(outVal): _*), generated, schema)

  def targetRows(which: Column): DataFrame =
    joined.filter(which).select(outCols.map(n => tCol(n).as(n)): _*)

  /** CDF: one pass over the same join; unmatched/unclaimed rows yield a
    * null array which explode drops. */
  def changes: DataFrame = {
    def img(cl: Option[MergeClause], ct: String): Column = {
      val cols = cl match {
        case Some(c) => outCols.map(n => withId(n, clauseVal(c, n)).as(n))
        case None => outCols.map(n => tCol(n).as(n))
      }
      struct(cols :+ lit(ct).as("_change_type"): _*)
    }
    def branchChanges(cls: Seq[MergeClause], idx: Column,
        guard: Column): Seq[(Column, Column)] =
      cls.zipWithIndex.map { case (cl, i) =>
        val hit = guard && idx === i
        cl match {
          case _: Delete => hit -> array(img(None, "delete"))
          case _: Insert | _: InsertAll => hit -> array(img(Some(cl), "insert"))
          case _ => hit -> array(img(None, "update_preimage"),
            img(Some(cl), "update_postimage"))
        }
      }
    val branches =
      branchChanges(mCl, mIdx, tPresent && sPresent) ++
        branchChanges(bCl, bIdx, tPresent && !sPresent) ++
        branchChanges(iCl, iIdx, !tPresent && sPresent)
    val changeArr = branches.foldRight(lit(null).cast(ArrayType(StructType(
        schema.fields :+ StructField("_change_type", StringType)))): Column) {
      case ((cond, arr), els) => when(cond, arr).otherwise(els)
    }
    MergePlan.withGenerated(joined.select(explode(changeArr).as("c")).select("c.*"),
      generated, schema)
  }

  /** Drops the join's cache (a no-op when the plan did not persist it). */
  def release(): Unit = joined.unpersist()
}

private[graft] object MergePlan {

  /** A MERGE's clause kinds per branch, its keys and its aliases — the one
    * shape check every writer runs before it reads anything. */
  def requireShape(keys: Seq[String], matched: Seq[MergeClause],
      notMatched: Seq[MergeClause], notMatchedBySource: Seq[MergeClause],
      targetAlias: String, sourceAlias: String): Unit = {
    import MergeClause._
    require(keys.nonEmpty, "MERGE needs at least one equi key")
    matched.foreach {
      case _: InsertAll | _: Insert => throw new IllegalArgumentException(
        "MERGE: INSERT is not valid in the WHEN MATCHED branch")
      case _ => ()
    }
    notMatched.foreach {
      case _: InsertAll | _: Insert => ()
      case other => throw new IllegalArgumentException(
        s"MERGE: only INSERT is valid in the WHEN NOT MATCHED branch, got $other")
    }
    notMatchedBySource.foreach {
      case _: Update | _: Delete => ()
      case other => throw new IllegalArgumentException(
        "MERGE: only UPDATE SET …/DELETE are valid in the WHEN NOT MATCHED " +
          s"BY SOURCE branch (there is no source row to read), got $other")
    }
    require(targetAlias != sourceAlias,
      s"MERGE target and source aliases must differ, both are '$targetAlias'")
  }

  /** `df` with every `generated` column (name → SQL expression) recomputed
    * over its row and cast to its `schema` type — the invariant an update
    * or insert image keeps whatever its assignments wrote. */
  def withGenerated(df: DataFrame, generated: Map[String, String],
      schema: StructType): DataFrame =
    generated.foldLeft(df) { case (d, (n, e)) =>
      d.withColumn(n, schema.find(_.name == n).fold(expr(e))(f => expr(e).cast(f.dataType)))
    }
}
