package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DecimalType, DoubleType, StructType, TimestampType}

import graft.cdc.Envelope
import graft.table.{Commit, GraftTable, MergeClause}

/** The reference's three materialized views
  * (`/root/reference/consumer/risingwave-connector/init-risingwave.sql:73-109`),
  * maintained incrementally as RisingWave maintains them: after each CDC
  * micro-batch's snapshot commits, every view folds the change feed
  * ([[GraftTable.readChanges]]) of its sources that it has not yet folded
  * ([[maintain]]), as ONE positional MERGE per (view, source) — O(changed
  * groups) whatever the table size — stamped with the source version it
  * folded up to. A replayed batch finds nothing new; a batch whose view
  * commits were lost is caught up by the next. `mv_order_analytics` and
  * `mv_customer_order_summary` hold additive state, read through
  * [[orderAnalyticsView]] and [[customerOrderSummaryView]];
  * `mv_product_inventory` is the view itself. */
object MaterializedViews {

  private val Money = DecimalType(18, 2)

  private def moneySum(c: Column) = sum(c.cast(Money)).cast(DoubleType)

  /** MV `order_analytics` (init-risingwave.sql:73-81) over the orders
    * snapshot. The three batch definitions are the oracle the maintained
    * views must equal. */
  def orderAnalytics(orders: DataFrame): DataFrame =
    orders.groupBy(
        to_date(date_trunc("day", col("order_date"))).as("order_day"),
        col("status"))
      .agg(
        count(lit(1)).as("order_count"),
        moneySum(col("total_amount")).as("total_revenue"),
        (moneySum(col("total_amount")) / count(col("total_amount"))).as("avg_order_value"))

  /** MV `customer_order_summary` (init-risingwave.sql:84-94). */
  def customerOrderSummary(customers: DataFrame, orders: DataFrame): DataFrame =
    customers.alias("c")
      .join(orders.alias("o"), col("c.id") === col("o.customer_id"), "left")
      .groupBy(col("c.id").as("customer_id"), col("c.first_name"),
        col("c.last_name"), col("c.email"))
      .agg(
        count(col("o.id")).as("total_orders"),
        coalesce(moneySum(col("o.total_amount")), lit(0.0)).as("lifetime_value"))

  private val inventoryCols = Seq(
    col("id"), col("name"), col("category"), col("price"), col("stock_quantity"),
    when(col("stock_quantity") === 0, "Out of Stock")
      .when(col("stock_quantity") < 10, "Low Stock")
      .otherwise("In Stock").as("stock_status"))

  /** MV `product_inventory` (init-risingwave.sql:97-109) with the
    * stock_status CASE bucketing. */
  def productInventory(products: DataFrame): DataFrame = products.select(inventoryCols: _*)

  def mvPath(cfg: CdcPipeline.Config, name: String): String =
    s"${cfg.tableRoot}/mv_$name"

  /** Published `order_analytics`: the average derived from (sum, count),
    * which keeps every maintained aggregate additive. */
  def orderAnalyticsView(state: DataFrame): DataFrame =
    state.select(
      col("order_day"), col("status"), col("order_count"),
      col("sum_revenue").cast(DoubleType).as("total_revenue"),
      (col("sum_revenue").cast(DoubleType) / col("order_count")).as("avg_order_value"))

  /** Published `customer_order_summary` from its state: known customers
    * only, null counters as zero, derived exactly like the batch MV. */
  def customerOrderSummaryView(state: DataFrame): DataFrame =
    state.filter(col("__known") === true)
      .select(
        col("customer_id"), col("first_name"), col("last_name"), col("email"),
        coalesce(col("total_orders"), lit(0L)).as("total_orders"),
        coalesce(col("lifetime_value").cast(DoubleType), lit(0.0)).as("lifetime_value"))

  /** `order_analytics` state: per (day, status), a signed row count and an
    * exact revenue sum. */
  private val orderAnalyticsSpec = IncrementalAgg.Spec(
    groupKeys = Seq(
      "order_day" -> to_date(date_trunc("day", col("order_date"))),
      "status" -> col("status")),
    countCol = "order_count",
    sums = Seq(IncrementalAgg.Sum("sum_revenue", col("total_amount").cast(Money), Money)))

  /** A view: its empty state over typed empty snapshots, and per source the
    * MERGE folding that source's change rows into it. */
  private final case class View(name: String, empty: (String => DataFrame) => DataFrame,
      folds: Map[String, (GraftTable, DataFrame, Option[(String, Long)]) => Commit])

  private val views = Seq(
    View("order_analytics",
      typed => typed("orders").select(
        orderAnalyticsSpec.groupKeys.map { case (n, e) => e.as(n) } ++
          Seq(lit(0L).as("order_count"), lit(0).cast(Money).as("sum_revenue")): _*),
      Map("orders" -> (IncrementalAgg.applyChanges(_, _, orderAnalyticsSpec, _)))),
    View("customer_order_summary",
      typed => typed("customers").select(col("id").as("customer_id"), col("first_name"),
        col("last_name"), col("email"), lit(null).cast(BooleanType).as("__known"),
        lit(0L).as("total_orders"), lit(0).cast(Money).as("lifetime_value")),
      Map("customers" -> foldCustomers, "orders" -> foldCustomerOrders)),
    View("product_inventory", typed => productInventory(typed("products")),
      Map("products" -> foldProducts)))

  /** Folds every view over the snapshots of `cfg` that exist, creating a
    * missing view table empty first. */
  def maintain(spark: SparkSession, cfg: CdcPipeline.Config): Unit =
    views.foreach { v =>
      val sources = v.folds.keys.toSeq.sorted.flatMap(s =>
        GraftTable.find(spark, CdcPipeline.snapshotPath(cfg, s)).map(s -> _))
      if (sources.nonEmpty) {
        val mv = GraftTable.createIfNotExists(spark, mvPath(cfg, v.name),
          v.empty(typedEmpty(spark, _)))
        sources.foreach { case (s, src) => foldUnseen(mv, v.name, src, s) }
      }
    }

  /** Folds into `mv` (view `view`) the change feed of `src` (snapshot
    * `source`) past the version the view last folded, as one MERGE stamped
    * (`<view>:<source>`, the source head read). A source never folded is
    * folded whole: its head snapshot read as inserts. A range whose deltas
    * net to nothing publishes the stamp alone. */
  def foldUnseen(mv: GraftTable, view: String, src: GraftTable, source: String): Unit = {
    val fold = views.find(_.name == view).flatMap(_.folds.get(source)).getOrElse(
      throw new IllegalArgumentException(s"no view $view over $source"))
    val app = s"$view:$source"
    val head = src.version
    val unseen = mv.lastCommittedBatch(app) match {
      case None => Some(src.readVersion(head)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(head)))
      case Some(last) if src.changeDirsBetween(last, head).nonEmpty ||
          src.appendCommitsBetween(last, head).nonEmpty =>
        Some(src.readChanges(last + 1, head))
      case _ => None
    }
    unseen.foreach { changes =>
      fold(mv, changes, Some(app -> head))
      mv.maybeMaterialize(maxDeletedRatio = 0.1)
    }
  }

  /** The last image of each `id` in CDF rows — the highest
    * `_commit_version`, an image over a delete within one commit — with
    * `__deleted` set when that image is a delete. */
  private def lastImages(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy("id").orderBy(desc("_commit_version"), asc("__deleted"))
    changes.filter(col("_change_type") =!= "update_preimage")
      .withColumn("__deleted", col("_change_type") === "delete")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
  }

  private def assignAll(df: DataFrame): Map[String, Column] =
    df.columns.map(c => c -> col(s"s.$c")).toMap

  /** `product_inventory`: a projection, so each id's last image replaces
    * its row, and a delete removes it. */
  private def foldProducts(mv: GraftTable, changes: DataFrame,
      txn: Option[(String, Long)]): Commit = {
    val images = lastImages(changes).select(inventoryCols :+ col("__deleted"): _*)
    val set = assignAll(images) - "__deleted"
    mv.mergeClausesPositional(images, Seq("id"), None,
      matched = Seq(MergeClause.Delete(Some(col("s.__deleted"))), MergeClause.Update(set)),
      notMatched = Seq(MergeClause.Insert(set, Some(!col("s.__deleted")))),
      txn = txn)
  }

  /** `customer_order_summary`, customer side: each id's last image sets the
    * attributes; a delete sets `__known` false — a tombstone hiding the row
    * while its counters survive, as a recompute's join keeps the orders. */
  private def foldCustomers(mv: GraftTable, changes: DataFrame,
      txn: Option[(String, Long)]): Commit = {
    val images = lastImages(changes).select(col("id").as("customer_id"), col("first_name"),
      col("last_name"), col("email"), (!col("__deleted")).as("__known"))
    val set = assignAll(images)
    mv.mergeClausesPositional(images, Seq("customer_id"), None,
      matched = Seq(MergeClause.Update(set)),
      notMatched = Seq(MergeClause.Insert(
        set ++ Map("total_orders" -> lit(0L), "lifetime_value" -> lit(0)),
        Some(col("s.__known")))),
      txn = txn)
  }

  /** `customer_order_summary`, order side: signed per-customer deltas add
    * to the counters; a customer not seen yet accumulates them in a hidden
    * row (`__known` null). */
  private def foldCustomerOrders(mv: GraftTable, changes: DataFrame,
      txn: Option[(String, Long)]): Commit = {
    val deltas = IncrementalAgg.signedDeltas(changes, IncrementalAgg.Spec(
      groupKeys = Seq("customer_id" -> col("customer_id")),
      countCol = "total_orders",
      sums = Seq(IncrementalAgg.Sum("lifetime_value", col("total_amount").cast(Money), Money))))
    mv.mergeClausesPositional(deltas, Seq("customer_id"), None,
      matched = Seq(MergeClause.Update(Map(
        "total_orders" -> (col("t.total_orders") + col("s.__d_count")),
        "lifetime_value" -> (col("t.lifetime_value") + col("s.__d_lifetime_value"))))),
      notMatched = Seq(MergeClause.Insert(Map(
        "customer_id" -> col("s.customer_id"),
        "total_orders" -> col("s.__d_count"),
        "lifetime_value" -> col("s.__d_lifetime_value")),
        Some(col("s.customer_id").isNotNull))),
      txn = txn)
  }

  /** An empty frame of `table`'s snapshot columns as the pipeline parses
    * them ([[graft.cdc.Parse.typedSnapshotRows]]). */
  private def typedEmpty(spark: SparkSession, table: String): DataFrame = {
    val micros = Envelope.microsTimestampCols(table).toSet
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
      Envelope.tableJsonSchemas(table).map(f =>
        if (micros(f.name)) f.copy(dataType = TimestampType) else f)))
  }
}
