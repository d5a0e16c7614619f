package graft.pipeline

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcFixtures.{customerJson, orderJson, productJson, record, writeBatch}
import graft.table.GraftTable

/** View maintenance through the streaming pipeline: after each batch every
  * published view must equal its batch definition over the snapshots — the
  * contract RisingWave's incremental maintenance provides
  * (init-risingwave.sql:73-109) — and each view's fold must stay exact
  * across a replayed batch, a batch run without maintenance, and a larger
  * table. */
class MaterializedViewsSpec extends SparkSpec {

  private val Views = Seq("order_analytics", "customer_order_summary", "product_inventory")

  private def config(tag: String, maintain: Boolean = true) = CdcPipeline.Config(
    inputDir = tmpDir(s"$tag-in"),
    tableRoot = tmpDir(s"$tag-tables"),
    checkpointRoot = tmpDir(s"$tag-ckpt"),
    availableNow = true,
    tables = Seq("customers", "products", "orders"),
    maintainMvs = maintain)

  private def snap(cfg: CdcPipeline.Config, t: String): DataFrame =
    GraftTable.forPath(spark, CdcPipeline.snapshotPath(cfg, t)).read()

  private def view(cfg: CdcPipeline.Config, name: String): GraftTable =
    GraftTable.forPath(spark, MaterializedViews.mvPath(cfg, name))

  /** Each published view next to its batch definition over the snapshots. */
  private def published(cfg: CdcPipeline.Config): Seq[(String, Set[String], Set[String])] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSet
    Seq(
      ("order_analytics",
        rows(MaterializedViews.orderAnalyticsView(view(cfg, "order_analytics").read())),
        rows(MaterializedViews.orderAnalytics(snap(cfg, "orders")))),
      ("customer_order_summary",
        rows(MaterializedViews.customerOrderSummaryView(
          view(cfg, "customer_order_summary").read())),
        rows(MaterializedViews.customerOrderSummary(snap(cfg, "customers"), snap(cfg, "orders")))),
      ("product_inventory",
        rows(view(cfg, "product_inventory").read()),
        rows(MaterializedViews.productInventory(snap(cfg, "products")))))
  }

  private def assertViewsMatch(cfg: CdcPipeline.Config, after: String): Unit =
    published(cfg).foreach { case (name, got, want) =>
      assert(got === want, s"$name after $after")
    }

  private def versions(cfg: CdcPipeline.Config): Seq[Long] = Views.map(view(cfg, _).version)

  /** An order whose status is null: its (day, status) group has a null key. */
  private def nullStatusOrderJson(id: Long, customerId: Long, total: Double): String =
    orderJson(id, customerId, "x", total).replace("\"status\":\"x\"", "\"status\":null")

  // Batches covering every change kind the folds see: inserts, updates that
  // move groups or amounts, deletes, an order before its customer, a null
  // group key, and a customer deleted and re-inserted with surviving orders.
  private val batches = Seq(
    Seq(
      record("customers", "c", 1, Some(customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      record("customers", "c", 2, Some(customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1),
      record("products", "c", 1, Some(productJson(1, "Laptop", 999.99, 0)), off = 2),
      record("products", "c", 2, Some(productJson(2, "Mouse", 19.99, 5)), off = 3),
      record("products", "c", 3, Some(productJson(3, "Desk", 149.0, 50)), off = 4),
      record("orders", "c", 10, Some(orderJson(10, 1, "pending", 100.0)), off = 5),
      record("orders", "c", 11, Some(orderJson(11, 1, "shipped", 50.0)), off = 6)),
    Seq(
      record("orders", "u", 11, Some(orderJson(11, 1, "delivered", 75.0)),
        Some(orderJson(11, 1, "shipped", 50.0)), off = 7),
      record("orders", "d", 10, None, Some(orderJson(10, 1, "pending", 100.0)), off = 8),
      record("orders", "c", 12, Some(orderJson(12, 9, "pending", 30.0)), off = 9),
      record("orders", "c", 13, Some(nullStatusOrderJson(13, 2, 12.5)), off = 10),
      record("products", "u", 2, Some(productJson(2, "Mouse", 17.99, 25)),
        Some(productJson(2, "Mouse", 19.99, 5)), off = 11)),
    Seq(
      record("customers", "c", 9, Some(customerJson(9, "Late", "Comer", "late@x.com")), off = 12),
      record("customers", "d", 1, None, Some(customerJson(1, "John", "Doe", "john@x.com")), off = 13),
      record("products", "d", 3, None, Some(productJson(3, "Desk", 149.0, 50)), off = 14),
      record("orders", "c", 14, Some(nullStatusOrderJson(14, 9, 7.5)), off = 15)),
    Seq(
      record("customers", "c", 1, Some(customerJson(1, "John", "Doe", "john@back.com")), off = 16),
      record("orders", "d", 13, None, Some(nullStatusOrderJson(13, 2, 12.5)), off = 17),
      record("orders", "c", 15, Some(orderJson(15, 1, "pending", 25.0)), off = 18)))

  test("MVs refresh per batch and match snapshot recompute") {
    val cfg = config("mv")
    batches.zipWithIndex.foreach { case (b, i) =>
      writeBatch(cfg.inputDir, s"b$i.json", b)
      CdcPipeline.runOnce(spark, cfg)
      assertViewsMatch(cfg, s"batch $i")
    }
    // spot values: John deleted and back with his one surviving order,
    // Jane with her null-status order deleted, the late customer's orders
    // summed before it arrived
    val cos = MaterializedViews.customerOrderSummaryView(
        view(cfg, "customer_order_summary").read())
      .orderBy("customer_id").collect()
      .map(r => (r.getAs[Long]("customer_id"), r.getAs[Long]("total_orders"),
        r.getAs[Double]("lifetime_value")))
    assert(cos.toSeq === Seq((1L, 2L, 100.0), (2L, 0L, 0.0), (9L, 2L, 37.5)))
    val inv = view(cfg, "product_inventory").read().orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("stock_status")))
    assert(inv.toSeq === Seq((1L, "Out of Stock"), (2L, "In Stock")))
    // every fold is a MERGE commit after the empty CREATE — no rewrite
    Views.foreach { name =>
      val ops = view(cfg, name).history().select("operation").collect().map(_.getString(0))
      assert(ops.last === "CREATE")
      assert(ops.init.toSet.subsetOf(Set("MERGE", "OPTIMIZE")), s"$name history ${ops.toSeq}")
    }
  }

  test("a replayed batch adds no view commit and leaves the views unchanged") {
    val cfg = config("mv-replay")
    val ckpt = new File(cfg.checkpointRoot)
    val saved = new File(tmpDir("mv-replay-saved"))
    batches.zipWithIndex.foreach { case (b, i) =>
      writeBatch(cfg.inputDir, s"b$i.json", b)
      if (i == batches.size - 1) FileUtils.copyDirectory(ckpt, saved)
      CdcPipeline.runOnce(spark, cfg)
    }
    // The checkpoint as it was before the last batch: the next run replays
    // that batch, as after a crash between its commits and its checkpoint.
    // The view stamps stay in place.
    val before = versions(cfg)
    val views = published(cfg)
    FileUtils.deleteDirectory(ckpt)
    FileUtils.copyDirectory(saved, ckpt)
    CdcPipeline.runOnce(spark, cfg)
    assert(versions(cfg) === before)
    assert(published(cfg) === views)
    assertViewsMatch(cfg, "the replay")
  }

  test("views catch up on batches run without maintenance") {
    val on = config("mv-catchup")
    val off = on.copy(maintainMvs = false)
    batches.zipWithIndex.foreach { case (b, i) =>
      writeBatch(on.inputDir, s"b$i.json", b)
      // batch 0 unmaintained: the views are created and seeded by batch 1;
      // batch 2 unmaintained: batch 3 folds both batches' change feed
      CdcPipeline.runOnce(spark, if (i % 2 == 0) off else on)
      if (i % 2 == 1) assertViewsMatch(on, s"batch $i")
      else if (i == 0) Views.foreach(v =>
        assert(!GraftTable.isTable(spark, MaterializedViews.mvPath(on, v))))
    }
  }

  test("a view fold writes the same rows over a ten times larger snapshot") {
    val k = 3
    def run(n: Int): Map[String, Seq[Long]] = {
      val cfg = config(s"mv-scale-$n")
      val load = (1 to n).flatMap { i =>
        Seq(record("customers", "c", i, Some(customerJson(i, s"F$i", s"L$i", s"c$i@x.com"))),
          record("products", "c", i, Some(productJson(i, s"P$i", 10.0 + i, 20 + i))),
          record("orders", "c", i, Some(orderJson(i, i, "pending", 5.0 + i))))
      }
      writeBatch(cfg.inputDir, "load.json", load)
      CdcPipeline.runOnce(spark, cfg)
      val loaded = Views.map(v => v -> view(cfg, v).version).toMap
      // the same k keys change: an email, a stock level, an order's status
      // and amount
      writeBatch(cfg.inputDir, "change.json", (1 to k).flatMap { i =>
        Seq(record("customers", "u", i, Some(customerJson(i, s"F$i", s"L$i", s"new$i@x.com")),
            Some(customerJson(i, s"F$i", s"L$i", s"c$i@x.com"))),
          record("products", "u", i, Some(productJson(i, s"P$i", 10.0 + i, i)),
            Some(productJson(i, s"P$i", 10.0 + i, 20 + i))),
          record("orders", "u", i, Some(orderJson(i, i, "shipped", 50.0 + i)),
            Some(orderJson(i, i, "pending", 5.0 + i))))
      })
      CdcPipeline.runOnce(spark, cfg)
      assertViewsMatch(cfg, s"the change over $n rows")
      Views.map { v =>
        v -> view(cfg, v).history()
          .filter(col("version") > loaded(v) && col("operation") === "MERGE")
          .orderBy("version").collect()
          .map(_.getAs[Map[String, Long]]("operationMetrics")("numOutputRows")).toSeq
      }.toMap
    }
    val small = run(20)
    assert(small === run(200))
    // (day, pending) and (day, shipped); k customers twice; k products
    assert(small === Map("order_analytics" -> Seq(2L),
      "customer_order_summary" -> Seq(k.toLong, k.toLong), "product_inventory" -> Seq(k.toLong)))
  }
}
