package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.table.GraftTable

/** Incremental maintenance of the JOIN MV customer_order_summary must equal
  * a full recompute after every batch — including the subtle case of orders
  * arriving before their customer row. */
class IncrementalJoinMvSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private def customersDf(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.toDF("id", "first_name", "last_name", "email")

  private def ordersDf(rows: Seq[(Long, Long, Timestamp, String, Double)]): DataFrame =
    rows.toDF("id", "customer_id", "order_date", "status", "total_amount")

  private val stateSchema = StructType(Seq(
    StructField("customer_id", LongType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType),
    StructField("__known", BooleanType),
    StructField("total_orders", LongType),
    StructField("lifetime_value", DecimalType(18, 2))))

  test("incremental join MV equals recompute, orphan orders included") {
    val cSnap = GraftTable.create(spark, tmpDir("ijmv-c"), customersDf(Nil).limit(0))
    val oSnap = GraftTable.create(spark, tmpDir("ijmv-o"), ordersDf(Nil).limit(0))
    val mv = GraftTable.create(spark, tmpDir("ijmv-state"),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema))

    def applyCust(): Unit =
      MaterializedViews.foldUnseen(mv, "customer_order_summary", cSnap, "customers")
    def applyOrd(): Unit =
      MaterializedViews.foldUnseen(mv, "customer_order_summary", oSnap, "orders")
    def check(): Unit = {
      val got = MaterializedViews.customerOrderSummaryView(mv.read())
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3),
          r.getLong(4), r.getDouble(5))).toSet
      val expect = MaterializedViews.customerOrderSummary(cSnap.read(), oSnap.read())
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3),
          r.getLong(4), r.getDouble(5))).toSet
      assert(got === expect)
    }

    // customers first, one with no orders ever
    cSnap.merge(customersDf(Seq(
      (1L, "John", "Doe", "john@x.com"),
      (2L, "Jane", "Roe", "jane@x.com"))), "id")
    applyCust(); check()

    // orders, including an ORPHAN for customer 9 (not known yet)
    oSnap.merge(ordersDf(Seq(
      (10L, 1L, t("2024-01-01 10:00:00"), "pending", 100.0),
      (11L, 1L, t("2024-01-02 10:00:00"), "shipped", 50.0),
      (12L, 9L, t("2024-01-03 10:00:00"), "pending", 77.0))), "id")
    applyOrd(); check() // orphan hidden on both sides

    // late-arriving customer 9: view must now include the earlier order
    cSnap.merge(customersDf(Seq((9L, "Late", "Comer", "late@x.com"))), "id")
    applyCust(); check()

    // order amount update + delete; customer attr update
    oSnap.merge(ordersDf(Seq(
      (11L, 1L, t("2024-01-02 10:00:00"), "delivered", 60.0))), "id")
    applyOrd(); check()
    oSnap.deleteKeys(Seq(10L).toDF("id"), "id")
    applyOrd(); check()
    cSnap.merge(customersDf(Seq((1L, "John", "Doe", "john@new.com"))), "id")
    applyCust(); check()

    // customer delete tombstones the state row (hidden from the view)
    cSnap.deleteKeys(Seq(2L).toDF("id"), "id")
    applyCust(); check()

    // delete a customer WITH orders, then re-insert the same key: the
    // tombstone keeps the counters, so the re-inserted customer shows its
    // surviving order history exactly like a recompute would. (A physical
    // delete would restart the counters from zero here.)
    cSnap.deleteKeys(Seq(1L).toDF("id"), "id")
    applyCust(); check()
    cSnap.merge(customersDf(Seq((1L, "John", "Doe", "john@back.com"))), "id")
    applyCust(); check()
    // and its orders keep maintaining through the tombstone round-trip
    oSnap.merge(ordersDf(Seq(
      (13L, 1L, t("2024-02-01 10:00:00"), "pending", 25.0))), "id")
    applyOrd(); check()
  }
}
