package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.CdcFixtures
import graft.table.GraftTable

/** End-to-end streaming replay of the reference's smoke sequence
  * (scripts/test-cdc.sh:22-47): seed INSERTs, then UPDATE/INSERT/DELETE in
  * a second batch, asserting audit log, snapshots, CDF and checkpointed
  * resume — the driver-side equivalent of its eyeball-the-logs check. */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(dir: String, name: String,
      recs: Seq[(String, String, String, Int, Long, java.sql.Timestamp)]): Unit = {
    val lines = recs.map { case (k, v, topic, part, off, ts) =>
      val valueJson = Option(v) match {
        case Some(s) => s
        case None => "null"
      }
      s"""{"key":${escape(k)},"value":${if (valueJson == "null") "null" else escape(valueJson)},"topic":"$topic","partition":$part,"offset":$off,"timestamp":"${ts.toInstant}"}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  private def escape(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("streaming CDC: seed batch + DML batch → audit, snapshots, resume") {
    val in = tmpDir("cdc-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-tables"),
      checkpointRoot = tmpDir("cdc-ckpt"),
      availableNow = true,
      tables = Seq("customers", "products"))

    // Batch 1: the seed INSERTs (source-init.sql:78-104, abridged).
    writeBatch(in, "batch1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1),
      CdcFixtures.record("products", "c", 1,
        Some(CdcFixtures.productJson(1, "Laptop", 999.99, 10)), off = 2),
      CdcFixtures.tombstone("customers", 1, off = 3)))
    CdcPipeline.runOnce(spark, cfg)

    val audit = GraftTable.forPath(spark, CdcPipeline.auditTablePath(cfg))
    assert(audit.read().count() === 3) // tombstone dropped
    val customers = GraftTable.forPath(spark, CdcPipeline.snapshotPath(cfg, "customers"))
    assert(customers.read().count() === 2)
    val products = GraftTable.forPath(spark, CdcPipeline.snapshotPath(cfg, "products"))
    assert(products.read().select("name").as[String].collect().toSeq === Seq("Laptop"))

    // Batch 2: test-cdc.sh DML — UPDATE customer email, UPDATE product
    // stock, INSERT customer, DELETE customer 2. Checkpoint must resume
    // from batch1 (no reprocessing: audit grows by exactly 4).
    writeBatch(in, "batch2.json", Seq(
      CdcFixtures.record("customers", "u", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john.doe@new.com")),
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 4),
      CdcFixtures.record("products", "u", 1,
        Some(CdcFixtures.productJson(1, "Laptop", 999.99, 50)),
        Some(CdcFixtures.productJson(1, "Laptop", 999.99, 10)), off = 5),
      CdcFixtures.record("customers", "c", 9,
        Some(CdcFixtures.customerJson(9, "New", "User", "new@x.com")), off = 6),
      CdcFixtures.record("customers", "d", 2, None,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 7)))
    CdcPipeline.runOnce(spark, cfg)

    assert(audit.read().count() === 7)
    val snap = customers.read().orderBy("id").collect()
    assert(snap.map(_.getAs[Long]("id")).toSeq === Seq(1L, 9L))
    assert(snap(0).getAs[String]("email") === "john.doe@new.com")
    assert(products.read().select("stock_quantity").as[Int].collect().toSeq === Seq(50))

    // CDF across the customer snapshot versions records the full life cycle.
    val changes = customers.readChanges(0)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes("insert") === 3)          // ids 1, 2, 9
    assert(changes("update_postimage") === 1) // id 1 email change
    assert(changes("delete") === 1)          // id 2
  }

  test("deltaMirror: every maintained table is live for a Delta reader after each batch") {
    val in = tmpDir("cdc-mirror-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-mirror-tables"),
      checkpointRoot = tmpDir("cdc-mirror-ckpt"),
      availableNow = true,
      tables = Seq("customers"),
      deltaMirror = true)

    writeBatch(in, "batch1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1)))
    CdcPipeline.runOnce(spark, cfg)

    // both the audit table and the snapshot opened PURELY via _delta_log
    val auditPath = CdcPipeline.auditTablePath(cfg)
    val snapPath = CdcPipeline.snapshotPath(cfg, "customers")
    assert(graft.sources.DeltaImport.read(spark, auditPath).count() === 2)
    assert(graft.sources.DeltaImport.read(spark, snapPath)
      .select("id").as[Long].collect().toSet === Set(1L, 2L))

    // second batch: the mirror follows the merge/delete commits
    writeBatch(in, "batch2.json", Seq(
      CdcFixtures.record("customers", "u", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "j@new.com")),
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 2),
      CdcFixtures.record("customers", "d", 2, None,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 3)))
    CdcPipeline.runOnce(spark, cfg)

    val viaDelta = graft.sources.DeltaImport.read(spark, snapPath)
      .select("id", "email").as[(Long, String)].collect().toSet
    assert(viaDelta === Set((1L, "j@new.com")))
    // Delta version == graft version, so travel works on the mirror too
    val t = GraftTable.forPath(spark, snapPath)
    assert(graft.sources.DeltaImport.read(spark, snapPath,
      versionAsOf = Some(0L)).count()
      === t.readVersion(0L).count())
  }

  test("deltaMirror advances past a merge-on-read delete (exported as a Delta DV)") {
    val in = tmpDir("cdc-mor-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-mor-tables"),
      checkpointRoot = tmpDir("cdc-mor-ckpt"),
      availableNow = true,
      tables = Seq("customers"),
      deltaMirror = true)
    writeBatch(in, "batch1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1)))
    CdcPipeline.runOnce(spark, cfg)

    // an out-of-band MoR delete lands between batches (operational cleanup)
    val snapPath = CdcPipeline.snapshotPath(cfg, "customers")
    val t = GraftTable.forPath(spark, snapPath)
    t.deletePositional(col("id") === 2L)

    // next batch: the mirror must keep advancing, not halt on the DV commit
    writeBatch(in, "batch2.json", Seq(
      CdcFixtures.record("customers", "c", 3,
        Some(CdcFixtures.customerJson(3, "Ann", "Poe", "ann@x.com")), off = 2)))
    CdcPipeline.runOnce(spark, cfg)

    val viaDelta = graft.sources.DeltaImport.read(spark, snapPath)
      .select("id").as[Long].collect().toSet
    assert(viaDelta === Set(1L, 3L))
    assert(viaDelta === t.read().select("id").as[Long].collect().toSet)
  }

  test("deltaMirror advances past a VALUE-tombstone delete (materialized at export)") {
    val in = tmpDir("cdc-vt-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-vt-tables"),
      checkpointRoot = tmpDir("cdc-vt-ckpt"),
      availableNow = true,
      tables = Seq("customers"),
      deltaMirror = true)
    writeBatch(in, "batch1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1)))
    CdcPipeline.runOnce(spark, cfg)

    // an out-of-band MoR VALUE-tombstone delete lands between batches —
    // no Delta action encodes it, so the mirror must MATERIALIZE the
    // covered prefix instead of halting until someone runs optimize
    val snapPath = CdcPipeline.snapshotPath(cfg, "customers")
    val t = GraftTable.forPath(spark, snapPath)
    t.deleteMergeOnRead(col("id") === 2L)

    writeBatch(in, "batch2.json", Seq(
      CdcFixtures.record("customers", "c", 3,
        Some(CdcFixtures.customerJson(3, "Ann", "Poe", "ann@x.com")), off = 2)))
    CdcPipeline.runOnce(spark, cfg)

    // the mirror advanced and the Delta snapshot equals the graft snapshot
    assert(graft.sources.DeltaImport.latestVersion(spark, snapPath) === t.version)
    val viaDelta = graft.sources.DeltaImport.read(spark, snapPath)
      .select("id").as[Long].collect().toSet
    assert(viaDelta === Set(1L, 3L))
    assert(viaDelta === t.read().select("id").as[Long].collect().toSet)
  }

  test("CDC pipeline over the no-rename object store (tables + checkpoint on s3fake)") {
    // The deployment shape S14 promises: table roots AND the streaming
    // checkpoint on an object store whose rename REPLACES silently — the
    // audit append, snapshot merge, CDF and checkpointed resume must all
    // ride the conditional-put commit seam, never rename arbitration.
    spark.sparkContext.hadoopConfiguration.set("fs.s3fake.impl",
      classOf[graft.table.FakeObjectStoreFileSystem].getName)
    graft.table.CommitLog.registerPublisher("s3fake",
      graft.table.FakeObjectStoreFileSystem.Publisher)
    val in = tmpDir("cdc-s3-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = "s3fake://" + tmpDir("cdc-s3-tables"),
      checkpointRoot = "s3fake://" + tmpDir("cdc-s3-ckpt"),
      availableNow = true,
      tables = Seq("customers"))
    writeBatch(in, "b1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1)))
    CdcPipeline.runOnce(spark, cfg)
    val audit = GraftTable.forPath(spark, CdcPipeline.auditTablePath(cfg))
    val customers = GraftTable.forPath(spark, CdcPipeline.snapshotPath(cfg, "customers"))
    assert(audit.read().count() === 2)
    assert(customers.read().count() === 2)
    // second batch: checkpointed RESUME over the object store (no replay)
    writeBatch(in, "b2.json", Seq(
      CdcFixtures.record("customers", "u", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@new.com")),
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 2),
      CdcFixtures.record("customers", "d", 2, None,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 3)))
    CdcPipeline.runOnce(spark, cfg)
    assert(audit.read().count() === 4)
    val snap = customers.read().collect()
    assert(snap.map(_.getAs[Long]("id")).toSeq === Seq(1L))
    assert(snap(0).getAs[String]("email") === "john@new.com")
    val changes = customers.readChanges(0)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(changes("insert") === 2 && changes("delete") === 1)
  }

  test("SCD2 stream: history dimension accumulates versions at event time") {
    val in = tmpDir("cdc-scd2-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-scd2-tables"),
      checkpointRoot = tmpDir("cdc-scd2-ckpt"),
      availableNow = true,
      tables = Seq("customers"))
    val t1 = 1700000000000L
    val t2 = 1700000100000L

    writeBatch(in, "b1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")),
        tsMs = t1, off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")),
        tsMs = t1, off = 1)))
    CdcPipeline.startScd2Stream(spark, cfg).awaitTermination()

    val dim = GraftTable.forPath(spark, CdcPipeline.scd2Path(cfg, "customers"))
    assert(dim.read().count() === 2)
    assert(dim.read().filter(col(Scd2.IsCurrent)).count() === 2)

    // batch 2: email update (close + open), insert, delete (close only) —
    // checkpointed resume, no reprocessing of batch 1
    writeBatch(in, "b2.json", Seq(
      CdcFixtures.record("customers", "u", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john.doe@new.com")),
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")),
        tsMs = t2, off = 2),
      CdcFixtures.record("customers", "c", 9,
        Some(CdcFixtures.customerJson(9, "New", "User", "new@x.com")),
        tsMs = t2, off = 3),
      CdcFixtures.record("customers", "d", 2, None,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")),
        tsMs = t2, off = 4)))
    CdcPipeline.startScd2Stream(spark, cfg).awaitTermination()

    val rows = dim.read().orderBy("id", Scd2.ValidFrom).collect()
    assert(rows.length === 4) // John v1+v2, Jane closed, New open
    val john = rows.filter(_.getAs[Long]("id") == 1L)
    assert(john.map(_.getAs[String]("email")).toSeq ===
      Seq("john@x.com", "john.doe@new.com"))
    assert(john.map(_.getAs[Boolean](Scd2.IsCurrent)).toSeq === Seq(false, true))
    assert(john(0).getAs[java.sql.Timestamp](Scd2.ValidTo).getTime === t2)
    assert(john(1).getAs[java.sql.Timestamp](Scd2.ValidFrom).getTime === t2)
    val jane = rows.filter(_.getAs[Long]("id") == 2L)
    assert(jane.length === 1 && !jane(0).getAs[Boolean](Scd2.IsCurrent))
    assert(rows.count(_.getAs[Boolean](Scd2.IsCurrent)) === 2) // John v2, New
  }

  test("foreign apply: CDC replicates onto a pure Delta table exactly-once") {
    val in = tmpDir("cdcf-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdcf-tables"),
      checkpointRoot = tmpDir("cdcf-ckpt"),
      availableNow = true,
      tables = Seq("customers"))
    // Seed batch through the NORMAL pipeline: its snapshot table has the
    // exact typed schema a foreign target carries.
    writeBatch(in, "batch1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "c", 2,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 1)))
    CdcPipeline.runOnce(spark, cfg)
    // The foreign target: the seeded snapshot exported, graft log retired
    // — a pure Delta table some other engine owns.
    val froot = CdcPipeline.snapshotPath(cfg, "customers")
    graft.sources.DeltaExport.exportLog(GraftTable.forPath(spark, froot))
    val fs = new org.apache.hadoop.fs.Path(froot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(froot, "_graft_log"), true)

    // DML batch applied through the FOREIGN stream (fresh checkpoint so
    // it reads both batches; latestPerKey resolves chains).
    writeBatch(in, "batch2.json", Seq(
      CdcFixtures.record("customers", "u", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john.doe@new.com")),
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 2),
      CdcFixtures.record("customers", "c", 9,
        Some(CdcFixtures.customerJson(9, "New", "User", "new@x.com")), off = 3),
      CdcFixtures.record("customers", "d", 2, None,
        Some(CdcFixtures.customerJson(2, "Jane", "Roe", "jane@x.com")), off = 4)))
    val cfg2 = cfg.copy(checkpointRoot = tmpDir("cdcf-ckpt2"))
    val q = CdcPipeline.startForeignApplyStream(spark, cfg2, "customers", froot)
    q.awaitTermination()

    val read = graft.sources.DeltaImport.read(spark, froot)
    assert(read.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 9L))
    assert(read.filter(col("id") === 1L).select("email").as[String].head()
      === "john.doe@new.com")
    // exactly-once: redelivering the SAME batch under the same
    // (appId, batchId) is a no-op at the same version
    val vBefore = graft.sources.DeltaImport.latestVersion(spark, froot)
    val audit = GraftTable.forPath(spark, CdcPipeline.auditTablePath(cfg)).read()
    CdcPipeline.applyBatchToForeign(spark, "customers", audit, froot,
      s"${cfg2.checkpointRoot}/foreign-customers", 0L)
    assert(graft.sources.DeltaImport.latestVersion(spark, froot) === vBefore)
  }

  /** One batch touching all four tables (inserts, updates, deletes). */
  private def fourTableBatch = Seq(
    CdcFixtures.record("customers", "c", 1,
      Some(CdcFixtures.customerJson(1, "A", "A", "a@x.com")), off = 0),
    CdcFixtures.record("customers", "c", 2,
      Some(CdcFixtures.customerJson(2, "B", "B", "b@x.com")), off = 1),
    CdcFixtures.record("products", "c", 1,
      Some(CdcFixtures.productJson(1, "Laptop", 999.99, 10)), off = 2),
    CdcFixtures.record("products", "c", 2,
      Some(CdcFixtures.productJson(2, "Mouse", 9.99, 5)), off = 3),
    CdcFixtures.record("orders", "c", 10,
      Some(CdcFixtures.orderJson(10, 1, "pending", 1009.98)), off = 4),
    CdcFixtures.record("order_items", "c", 100,
      Some(CdcFixtures.orderItemJson(100, 10, 1, 1, 999.99)), off = 5),
    CdcFixtures.record("order_items", "c", 101,
      Some(CdcFixtures.orderItemJson(101, 10, 2, 2, 9.99)), off = 6),
    CdcFixtures.record("customers", "u", 1,
      Some(CdcFixtures.customerJson(1, "A", "A", "a2@x.com")),
      Some(CdcFixtures.customerJson(1, "A", "A", "a@x.com")), off = 7),
    CdcFixtures.record("customers", "d", 2, None,
      Some(CdcFixtures.customerJson(2, "B", "B", "b@x.com")), off = 8),
    CdcFixtures.record("products", "d", 1, None,
      Some(CdcFixtures.productJson(1, "Laptop", 999.99, 10)), off = 9),
    CdcFixtures.record("orders", "u", 10,
      Some(CdcFixtures.orderJson(10, 1, "shipped", 1009.98)),
      Some(CdcFixtures.orderJson(10, 1, "pending", 1009.98)), off = 10),
    CdcFixtures.record("order_items", "u", 101,
      Some(CdcFixtures.orderItemJson(101, 10, 2, 3, 9.99)),
      Some(CdcFixtures.orderItemJson(101, 10, 2, 2, 9.99)), off = 11))

  /** The last-writer-wins state [[fourTableBatch]] leaves, as (id, label). */
  private val fourTableState: Map[String, Set[(Long, String)]] = Map(
    "customers" -> Set(1L -> "a2@x.com"),
    "products" -> Set(2L -> "Mouse"),
    "orders" -> Set(10L -> "shipped"),
    "order_items" -> Set(100L -> "1", 101L -> "3"))

  private val labelCol = Map("customers" -> "email", "products" -> "name",
    "orders" -> "status", "order_items" -> "quantity")

  private def stateOf(df: DataFrame, table: String): Set[(Long, String)] =
    df.select(col("id"), col(labelCol(table)).cast("string"))
      .as[(Long, String)].collect().toSet

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("runOnce leaves no stream running when the audit stream fails") {
    val in = tmpDir("cdc-leak-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-leak-tables"),
      checkpointRoot = tmpDir("cdc-leak-ckpt"),
      availableNow = true)
    // The audit table already exists with kafka_offset declared INT: the
    // stream's LONG offsets cannot cast losslessly, so its append throws.
    val auditPath = CdcPipeline.auditTablePath(cfg)
    GraftTable.create(spark, auditPath, Seq(0).toDF("kafka_offset").limit(0))
    writeBatch(in, "b1.json", fourTableBatch)
    val before = spark.streams.active.map(_.id).toSet

    val err = intercept[Exception](CdcPipeline.runOnce(spark, cfg))
    assert(causes(err).exists(c => String.valueOf(c.getMessage).contains(auditPath)))
    assert(spark.streams.active.filterNot(q => before(q.id)).isEmpty)
  }

  test("a failing table fails the batch after the other tables have applied it") {
    val in = tmpDir("cdc-fail-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-fail-tables"),
      checkpointRoot = tmpDir("cdc-fail-ckpt"),
      availableNow = true,
      deltaMirror = true)
    assert(cfg.tables.head === "customers")
    // customers, the first table, already exists with email declared INT:
    // the batch's string emails cannot cast losslessly, so its merge throws.
    val custPath = CdcPipeline.snapshotPath(cfg, "customers")
    GraftTable.create(spark, custPath, Seq((0L, 0)).toDF("id", "email").limit(0))
    writeBatch(in, "b1.json", fourTableBatch)

    val err = intercept[Exception](CdcPipeline.runOnce(spark, cfg))
    assert(causes(err).exists(c => String.valueOf(c.getMessage).contains(custPath)))
    def assertApplied(table: String): Unit = {
      val path = CdcPipeline.snapshotPath(cfg, table)
      assert(stateOf(GraftTable.forPath(spark, path).read(), table) === fourTableState(table))
      assert(stateOf(graft.sources.DeltaImport.read(spark, path), table) ===
        fourTableState(table))
    }
    Seq("products", "orders", "order_items").foreach(assertApplied)

    // Without the bad table, the rerun replays the failed batch: customers
    // catches up and the other three stay as they are.
    val fs = new org.apache.hadoop.fs.Path(custPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(custPath), true)
    CdcPipeline.runOnce(spark, cfg)
    cfg.tables.foreach(assertApplied)
  }

  test("stopping the snapshot stream mid-batch stops its per-table threads") {
    val in = tmpDir("cdc-stop-in")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-stop-tables"),
      checkpointRoot = tmpDir("cdc-stop-ckpt"),
      deltaMirror = true)
    writeBatch(in, "b1.json", fourTableBatch)
    def applyThreads: Iterable[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-cdc-apply-"))
    }
    def waitFor(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
      assert(cond, what)
    }

    val q = CdcPipeline.startSnapshotStream(spark, cfg)
    try waitFor("a table apply started")(applyThreads.nonEmpty)
    finally q.stop()
    assert(!q.isActive)
    assert(q.exception.isEmpty)
    waitFor("the per-table threads ended")(applyThreads.isEmpty)
  }

  test("delete→re-insert inside one batch resolves to the re-insert") {
    val in = tmpDir("cdc-in2")
    val cfg = CdcPipeline.Config(
      inputDir = in,
      tableRoot = tmpDir("cdc-tables2"),
      checkpointRoot = tmpDir("cdc-ckpt2"),
      availableNow = true,
      tables = Seq("customers"))
    writeBatch(in, "b1.json", Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "A", "A", "a@x.com")), off = 0),
      CdcFixtures.record("customers", "d", 1, None,
        Some(CdcFixtures.customerJson(1, "A", "A", "a@x.com")), off = 1),
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "A", "A", "a-back@x.com")), off = 2)))
    CdcPipeline.runOnce(spark, cfg)
    val customers = GraftTable.forPath(spark, CdcPipeline.snapshotPath(cfg, "customers"))
    val rows = customers.read().collect()
    assert(rows.length === 1)
    assert(rows(0).getAs[String]("email") === "a-back@x.com")
  }
}
