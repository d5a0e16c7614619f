package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec
import graft.table.GraftTable

/** Delta-incremental MV maintenance from CDF rows must equal a full
  * recompute after every batch — the invariant RisingWave's incremental
  * dataflows guarantee (init-risingwave.sql:73-81). */
class IncrementalMvSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private def ordersDf(rows: Seq[(Long, Timestamp, String, Double)]): DataFrame =
    rows.toDF("id", "order_date", "status", "total_amount")

  private def recompute(snapshot: DataFrame): Set[(String, String, Long, Double, Double)] =
    MaterializedViews.orderAnalytics(snapshot)
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet

  /** An empty `order_analytics` state table's rows. */
  private def emptyState(orders: DataFrame): DataFrame = orders.limit(0).select(
    to_date(col("order_date")).as("order_day"),
    col("status"),
    lit(0L).as("order_count"),
    lit(0).cast(DecimalType(18, 2)).as("sum_revenue"))

  private def incremental(state: GraftTable): Set[(String, String, Long, Double, Double)] =
    MaterializedViews.orderAnalyticsView(state.read())
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet

  test("incremental CDF application equals recompute across batch kinds") {
    val seed = ordersDf(Seq(
      (1L, t("2024-01-01 10:00:00"), "pending", 100.0),
      (2L, t("2024-01-01 11:00:00"), "pending", 50.0),
      (3L, t("2024-01-02 09:00:00"), "shipped", 75.0)))

    val snap = GraftTable.create(spark, tmpDir("imv-orders"), seed.limit(0))
    val mv = GraftTable.create(spark, tmpDir("imv-state"), emptyState(seed))

    def applyLatest(): Unit = MaterializedViews.foldUnseen(mv, "order_analytics", snap, "orders")

    // Batch 1: initial load (all inserts via merge)
    snap.merge(seed, "id")
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))

    // Batch 2: status change (update pre/post), amount change, one insert
    snap.merge(ordersDf(Seq(
      (1L, t("2024-01-01 10:00:00"), "shipped", 100.0), // status moves groups
      (2L, t("2024-01-01 11:00:00"), "pending", 60.0),  // amount changes in place
      (4L, t("2024-01-02 14:00:00"), "pending", 25.0))), "id")
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))

    // Batch 3: delete one row (group count drops; day-1 'pending' shrinks)
    snap.deleteKeys(Seq(2L).toDF("id"), "id")
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))

    // Batch 4: delete the last 'shipped' of day-2 → group must vanish
    snap.deleteKeys(Seq(3L).toDF("id"), "id")
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))
    assert(!incremental(mv).exists { case (d, s, _, _, _) => d == "2024-01-02" && s == "shipped" })
  }

  test("incremental MV stays exact across positional-DV delete and update") {
    // DV mutations emit the same CDF contract as rewrites, so the O(batch)
    // maintainer must not notice the physical difference.
    val seed = ordersDf(Seq(
      (1L, t("2024-01-01 10:00:00"), "pending", 100.0),
      (2L, t("2024-01-01 11:00:00"), "pending", 50.0),
      (3L, t("2024-01-02 09:00:00"), "shipped", 75.0)))
    val snap = GraftTable.create(spark, tmpDir("imv-dv-orders"), seed.limit(0))
    val mv = GraftTable.create(spark, tmpDir("imv-dv-state"), emptyState(seed))
    def applyLatest(): Unit = MaterializedViews.foldUnseen(mv, "order_analytics", snap, "orders")
    snap.merge(seed, "id") // initial load: CDF inserts
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))
    // positional delete: CDF delete rows must shrink (and drop) groups
    snap.deletePositional(col("status") === "shipped")
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))
    assert(!incremental(mv).exists { case (_, s, _, _, _) => s == "shipped" })
    // positional update: pre/post images must move revenue in place
    snap.updatePositional(col("id") === 2L, Map("total_amount" -> lit(60.0)))
    applyLatest()
    assert(incremental(mv) === recompute(snap.read()))
  }

  test("a replayed micro-batch is detected by its txn stamp and skipped") {
    val seed = ordersDf(Seq(
      (1L, t("2024-03-01 10:00:00"), "pending", 100.0),
      (2L, t("2024-03-01 11:00:00"), "shipped", 50.0)))
    val snap = GraftTable.create(spark, tmpDir("rmv-orders"), seed.limit(0))
    val mv = GraftTable.create(spark, tmpDir("rmv-state"), emptyState(seed))
    def fold(): Unit = MaterializedViews.foldUnseen(mv, "order_analytics", snap, "orders")

    snap.merge(seed, "id")
    fold()
    // the fold is stamped with the source version it folded up to
    assert(mv.lastCommittedBatch("order_analytics:orders") === Some(snap.version))
    val after = incremental(mv)
    assert(after === recompute(snap.read()))
    // foreachBatch is at-least-once: the same batch arrives again after a
    // crash between the view commit and the checkpoint commit. The stamp
    // says the source version is folded: no commit, no double count.
    val v = mv.version
    fold()
    assert(mv.version === v)
    assert(incremental(mv) === after)
    // Lost view commits: two source commits land unfolded, and the next
    // fold reads both as one range.
    snap.merge(ordersDf(Seq((3L, t("2024-03-02 09:00:00"), "pending", 25.0))), "id")
    snap.deleteKeys(Seq(1L).toDF("id"), "id")
    fold()
    assert(mv.history().filter(col("version") > v && col("operation") === "MERGE")
      .count() === 1)
    assert(mv.lastCommittedBatch("order_analytics:orders") === Some(snap.version))
    assert(incremental(mv) === recompute(snap.read()))
    // A range whose deltas net to nothing (the order moves within its day)
    // still publishes the stamp, so the next fold does not read it again.
    val settled = incremental(mv)
    val w = mv.version
    snap.merge(ordersDf(Seq((3L, t("2024-03-02 17:00:00"), "pending", 25.0))), "id")
    fold()
    assert(mv.version === w + 1)
    assert(mv.lastCommittedBatch("order_analytics:orders") === Some(snap.version))
    assert(mv.history().filter(col("version") === w + 1).select("operationMetrics")
      .head().getAs[Map[String, Long]](0)("numOutputRows") === 0L)
    assert(incremental(mv) === settled)
  }

  test("incremental product_inventory (projection MV) equals recompute") {
    val products = Seq(
      (1L, "Laptop", "tech", 999.99, 10),
      (2L, "Mouse", "tech", 19.99, 0)
    ).toDF("id", "name", "category", "price", "stock_quantity")
    val snap = GraftTable.create(spark, tmpDir("ipv-prod"), products.limit(0))
    val mv = GraftTable.create(spark, tmpDir("ipv-mv"),
      MaterializedViews.productInventory(products.limit(0)))

    def applyLatest(): Unit = MaterializedViews.foldUnseen(mv, "product_inventory", snap, "products")
    def check(): Unit = {
      val expect = MaterializedViews.productInventory(snap.read()).collect().toSet
      assert(mv.read().collect().toSet === expect)
    }

    snap.merge(products, "id"); applyLatest(); check()
    snap.merge(Seq((2L, "Mouse", "tech", 17.99, 25), (3L, "Desk", "office", 149.0, 5))
      .toDF("id", "name", "category", "price", "stock_quantity"), "id")
    applyLatest(); check()
    snap.deleteKeys(Seq(1L).toDF("id"), "id"); applyLatest(); check()
    // stock_status buckets reflect the updates
    val statuses = mv.read().orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("stock_status")))
    assert(statuses.toSeq === Seq((2L, "In Stock"), (3L, "Low Stock")))
    // one fold over several commits: each id's LAST image wins — an update
    // then a delete of 3, a delete then a re-insert of 1
    snap.merge(Seq((3L, "Desk", "office", 139.0, 0)).toDF("id", "name", "category", "price",
      "stock_quantity"), "id")
    snap.deleteKeys(Seq(3L).toDF("id"), "id")
    snap.merge(Seq((1L, "Laptop", "tech", 899.99, 3)).toDF("id", "name", "category", "price",
      "stock_quantity"), "id")
    applyLatest(); check()
  }

  test("continuous incremental MV over the streaming CDF equals recompute") {
    import graft.cdc.CdcFixtures.{orderJson, record, writeBatch}
    val cfg = CdcPipeline.Config(
      inputDir = tmpDir("cimv-in"),
      tableRoot = tmpDir("cimv-tables"),
      checkpointRoot = tmpDir("cimv-ckpt"),
      tables = Seq("orders"),
      maintainMvs = true)
    def state = GraftTable.forPath(spark, MaterializedViews.mvPath(cfg, "order_analytics"))
    def snap = GraftTable.forPath(spark, CdcPipeline.snapshotPath(cfg, "orders")).read()
    val day2 = 1700100000000000L
    writeBatch(cfg.inputDir, "b1.json", Seq(
      record("orders", "c", 1, Some(orderJson(1, 1, "pending", 10.0))),
      record("orders", "c", 2, Some(orderJson(2, 1, "pending", 20.0))),
      record("orders", "c", 3, Some(orderJson(3, 2, "shipped", 30.0, day2)))))
    CdcPipeline.runOnce(spark, cfg)
    assert(incremental(state) === recompute(snap))

    // the stream resumes from its checkpoint; the view folds only the new
    // batch's change feed
    writeBatch(cfg.inputDir, "b2.json", Seq(
      record("orders", "u", 2, Some(orderJson(2, 1, "shipped", 20.0)),
        Some(orderJson(2, 1, "pending", 20.0))),
      record("orders", "c", 4, Some(orderJson(4, 3, "pending", 40.0, day2))),
      record("orders", "d", 1, None, Some(orderJson(1, 1, "pending", 10.0)))))
    CdcPipeline.runOnce(spark, cfg)
    assert(incremental(state) === recompute(snap))
    assert(state.history().filter(col("operation") === "MERGE").count() === 2)
  }
}
