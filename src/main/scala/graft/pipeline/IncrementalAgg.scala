package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.table.{Commit, GraftTable, MergeClause}

/** Declarative incremental maintenance of ADDITIVE group-by aggregates from
  * Change-Data-Feed rows — the fold behind the `order_analytics` view
  * ([[MaterializedViews]]) and q179's change-feed aggregate: callers
  * declare (group keys, additive sums) once and both the signed-delta
  * computation and the state MERGE come from here.
  *
  * Additivity is the contract: every maintained aggregate must be a sum
  * (counts are sums of ±1; averages are derived at publish time from
  * sum/count — the standard decomposition). insert/update_postimage rows
  * contribute +, delete/update_preimage rows contribute −, so work per
  * refresh is O(changed rows) regardless of table size, and batches may
  * split or coalesce commits without changing the result.
  */
object IncrementalAgg {

  /** One additive aggregate: state/output column name, the value expression
    * over change rows, and the exact state type (sums widen — the state
    * column is cast back so repeated folds stay closed over the type). */
  final case class Sum(name: String, value: Column, dataType: DataType)

  /** @param groupKeys output name → key expression over change rows
    * @param countCol  name of the signed row-count column in the state
    * @param sums      additive aggregates beyond the count */
  final case class Spec(
      groupKeys: Seq[(String, Column)],
      countCol: String,
      sums: Seq[Sum])

  /** Per-group signed deltas `__d_count` and `__d_<sum>` (nulls add 0) of
    * CDF rows; all-zero groups are dropped — they cannot change state. */
  def signedDeltas(changes: DataFrame, spec: Spec): DataFrame = {
    val signed = changes
      .filter(col("_change_type").isin(
        "insert", "delete", "update_preimage", "update_postimage"))
      .withColumn("__sign",
        when(col("_change_type").isin("insert", "update_postimage"), 1L)
          .otherwise(-1L))
    val keyCols = spec.groupKeys.map { case (n, e) => e.as(n) }
    val aggs = sum(col("__sign")).as("__d_count") +:
      spec.sums.map(s => coalesce(sum(col("__sign") * s.value).cast(s.dataType),
        lit(0).cast(s.dataType)).as(s"__d_${s.name}"))
    val nonZero = (col("__d_count") =!= 0) +:
      spec.sums.map(s => col(s"__d_${s.name}") =!= 0)
    signed.groupBy(keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(nonZero.reduce(_ || _))
  }

  /** Folds CDF rows into the state table as ONE positional MERGE of their
    * signed deltas on the group keys, null-safe: a group whose count reaches
    * zero is deleted, others add their deltas, new positive groups insert —
    * O(changed groups) writes. Deltas are not idempotent: a caller that may
    * replay passes `txn` ([[GraftTable.mergeClausesPositional]]). */
  def applyChanges(
      mv: GraftTable,
      changes: DataFrame,
      spec: Spec,
      txn: Option[(String, Long)] = None): Commit = {
    val keys = spec.groupKeys.map(_._1)
    val count = col(s"t.${spec.countCol}") + col("s.__d_count")
    val added = spec.sums.map(s =>
      s.name -> (col(s"t.${s.name}") + col(s"s.__d_${s.name}")).cast(s.dataType))
    val inserted = keys.map(k => k -> col(s"s.$k")) ++
      spec.sums.map(s => s.name -> col(s"s.__d_${s.name}"))
    mv.mergeClausesPositional(signedDeltas(changes, spec), keys, None,
      matched = Seq(
        MergeClause.Delete(Some(count <= 0)),
        MergeClause.Update((added :+ (spec.countCol -> count)).toMap)),
      notMatched = Seq(MergeClause.Insert(
        (inserted :+ (spec.countCol -> col("s.__d_count"))).toMap,
        Some(col("s.__d_count") > 0))),
      txn = txn, nullSafe = true)
  }
}
