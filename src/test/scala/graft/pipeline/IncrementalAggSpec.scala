package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.SparkSpec
import graft.table.GraftTable

/** The declarative incremental-agg library must maintain ANY additive
  * group-by spec — here one unrelated to the built-in MVs (per-category
  * count + double sum) — and equal a recompute after every batch kind. */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IncrementalAgg.Spec(
    groupKeys = Seq("category" -> col("category")),
    countCol = "n",
    sums = Seq(IncrementalAgg.Sum("total", col("amount"), DoubleType)))

  private def recompute(snapshot: DataFrame): Set[(String, Long, Double)] =
    snapshot.groupBy("category")
      .agg(count(lit(1)).as("n"), sum("amount").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  test("arbitrary additive spec equals recompute across merge/delete batches") {
    val rows = Seq((1L, "a", 10.0), (2L, "a", 5.0), (3L, "b", 7.0))
      .toDF("id", "category", "amount")
    val snap = GraftTable.create(spark, tmpDir("ia-snap"), rows.limit(0))
    val state = GraftTable.create(spark, tmpDir("ia-state"),
      rows.limit(0).select(col("category"),
        lit(0L).cast(LongType).as("n"), lit(0.0).as("total")))

    def applyLatest(): Unit =
      IncrementalAgg.applyChanges(state, snap.readChanges(snap.version, snap.version), spec)
    def check(): Unit = {
      val got = state.read().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === recompute(snap.read()))
    }

    snap.merge(rows, "id"); applyLatest(); check()
    // amount change + category move + insert
    snap.merge(Seq((1L, "a", 12.0), (3L, "a", 7.0), (4L, "c", 1.0))
      .toDF("id", "category", "amount"), "id")
    applyLatest(); check()
    // delete the last 'c' row → that group must vanish from state
    snap.deleteKeys(Seq(4L).toDF("id"), "id"); applyLatest(); check()
    assert(!state.read().collect().exists(_.getString(0) == "c"))
  }

  test("APPEND commits maintain the aggregate via synthesized CDF inserts") {
    val rows = Seq((1L, "a", 10.0), (2L, "b", 5.0))
      .toDF("id", "category", "amount")
    val snap = GraftTable.create(spark, tmpDir("ia3-snap"), rows)
    val state = GraftTable.create(spark, tmpDir("ia3-state"),
      rows.limit(0).select(col("category"),
        lit(0L).cast(LongType).as("n"), lit(0.0).as("total")))
    // an append-only table's change feed now serves inserts, so the SAME
    // incremental maintainer covers audit-log-style tables
    snap.append(Seq((3L, "a", 2.0), (4L, "c", 9.0))
      .toDF("id", "category", "amount"))
    IncrementalAgg.applyChanges(state,
      snap.readChanges(snap.version, snap.version), spec)
    val got = state.read().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set(("a", 1L, 2.0), ("c", 1L, 9.0)))
  }

  test("null group keys fold as one group, matched null-safely") {
    val rows = Seq((1L, "a", 10.0), (2L, null, 5.0)).toDF("id", "category", "amount")
    val snap = GraftTable.create(spark, tmpDir("ia4-snap"), rows.limit(0))
    val state = GraftTable.create(spark, tmpDir("ia4-state"),
      rows.limit(0).select(col("category"),
        lit(0L).cast(LongType).as("n"), lit(0.0).as("total")))
    def applyLatest(): Unit =
      IncrementalAgg.applyChanges(state, snap.readChanges(snap.version, snap.version), spec)
    def check(): Unit = {
      val got = state.read().collect().toSeq
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2)))
      val want = recompute(snap.read()).toSeq.map { case (c, n, t) => (Option(c), n, t) }
      assert(got.sortBy(_._1.toString) === want.sortBy(_._1.toString))
    }
    snap.merge(rows, "id"); applyLatest(); check()
    // a second null-keyed row must land in the SAME group, not a new one
    snap.merge(Seq((3L, null: String, 2.0), (1L, "a", 11.0)).toDF("id", "category", "amount"),
      "id")
    applyLatest(); check()
    assert(state.read().filter(col("category").isNull).count() === 1)
    // deleting every null-keyed row removes the group
    snap.deleteKeys(Seq(2L, 3L).toDF("id"), "id"); applyLatest(); check()
    assert(state.read().filter(col("category").isNull).count() === 0)
  }

  test("replayed batch with a txn stamp is a no-op") {
    val rows = Seq((1L, "a", 10.0)).toDF("id", "category", "amount")
    val snap = GraftTable.create(spark, tmpDir("ia2-snap"), rows.limit(0))
    val state = GraftTable.create(spark, tmpDir("ia2-state"),
      rows.limit(0).select(col("category"),
        lit(0L).cast(LongType).as("n"), lit(0.0).as("total")))
    snap.merge(rows, "id")
    val ch = snap.readChanges(1, 1)
    IncrementalAgg.applyChanges(state, ch, spec, txn = Some(("q", 0L)))
    val after = state.read().collect().toSeq
    IncrementalAgg.applyChanges(state, ch, spec, txn = Some(("q", 0L)))
    assert(state.read().collect().toSeq === after)
  }
}
