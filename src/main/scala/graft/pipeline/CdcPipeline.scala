package graft.pipeline

import java.util.concurrent.{CompletionException, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.{Envelope, Parse}
import graft.table.GraftTable

/** Streaming CDC pipeline: source → Debezium parse → (a) versioned
  * append-only audit log, (b) per-table current-state snapshots maintained
  * by merge/delete inside `foreachBatch` — the exact shape of the
  * reference's Spark job (`/root/reference/consumer/spark-streaming/
  * spark_streaming.py:268-303` audit sink, `:306-414` snapshot sink).
  *
  * The source is a file-based stream of Debezium-envelope JSON lines in
  * Kafka-record shape ([[Envelope.kafkaRecordSchema]]): no Kafka jar ships
  * in this runtime, and `maxFilesPerTrigger` stands in for
  * `maxOffsetsPerTrigger` (SURVEY §7.0). Production swap-back is the
  * one-line `format("kafka").option("subscribe", …)` at [[source]].
  *
  * Scale notes: every batch operation is a distributed plan — the audit
  * append is a blind columnar write; each snapshot apply is one positional
  * MERGE ([[GraftTable.mergeClausesPositional]]) that joins the batch with
  * the snapshot on the key and writes only batch-sized output: deletion
  * vectors for the rows it replaces or deletes, one data dir of new row
  * images, the change feed. Delete keys flow through that join, never the
  * driver.
  */
object CdcPipeline {

  final case class Config(
      inputDir: String,
      tableRoot: String,
      checkpointRoot: String,
      // Reference defaults: 10 s trigger, 10k records/batch
      // (spark_streaming.py:35-36). AvailableNow drains-and-stops for tests
      // and backfills.
      triggerInterval: String = "10 seconds",
      availableNow: Boolean = false,
      maxFilesPerTrigger: Int = 1000,
      tables: Seq[String] = Envelope.tableNames,
      // After each batch, fold into the reference's materialized views the
      // change feed they have not yet seen ([[MaterializedViews.maintain]];
      // init-risingwave.sql:73-109, SURVEY ST10).
      maintainMvs: Boolean = false,
      // Dual-format publication (UniForm-style): after each batch, keep a
      // `_delta_log` mirror of every maintained table current
      // ([[graft.sources.DeltaExport.exportLog]] — incremental, one Delta
      // commit per graft commit), so any Delta reader follows the
      // pipeline's output live. The snapshot applies are positional
      // MERGEs, which the exporter publishes as Delta deletion vectors
      // plus added files; the audit stream only appends.
      deltaMirror: Boolean = false,
      // ST12 (spark_streaming.py:37,194-196): "earliest" replays everything
      // already in the input dir; "latest" starts from only-new files —
      // files present when the query starts are skipped, the Kafka
      // `startingOffsets=latest` contract mapped to the file source.
      startingOffsets: String = "earliest",
      // ST12: with false (the reference's setting), an input file deleted
      // after listing but before read — Kafka's aged-out-offsets case — is
      // skipped instead of failing the query.
      failOnDataLoss: Boolean = true,
      // ST13 (spark_streaming.py:168): infer the record schema from the
      // files instead of declaring it. The parse stage aligns the inferred
      // shape to the canonical envelope, so downstream stays typed.
      inferSchema: Boolean = false)

  def auditTablePath(cfg: Config): String = s"${cfg.tableRoot}/cdc_events"
  def snapshotPath(cfg: Config, table: String): String = s"${cfg.tableRoot}/$table"

  /** The streaming source: Kafka-shaped records from JSON-line files
    * (spark_streaming.py:187-198 minus the unavailable Kafka jar), with the
    * reference's source options mapped onto the file source:
    * `startingOffsets` earliest/latest, `failOnDataLoss`, and streaming
    * schema inference (ST12/ST13). */
  def source(spark: SparkSession, cfg: Config): DataFrame = {
    val reader = spark.readStream
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      // Kafka's failOnDataLoss=false → a listed-but-deleted input file is
      // skipped, not fatal.
      .option("ignoreMissingFiles", (!cfg.failOnDataLoss).toString)
    val typed =
      if (cfg.inferSchema) {
        // The reference switches the global toggle on
        // (spark.sql.streaming.schemaInference); scope it the same way.
        spark.conf.set("spark.sql.streaming.schemaInference", "true")
        reader.json(cfg.inputDir)
      } else reader.schema(Envelope.kafkaRecordSchema).json(cfg.inputDir)
    cfg.startingOffsets match {
      case "latest" =>
        // File sources replay the full directory on first start; "latest"
        // means begin at the live edge. Snapshot the files present NOW and
        // exclude them via the file-path metadata column — the set is
        // start-time metadata (one listing), not data. Paths are normalized
        // to scheme-less absolute form on both sides (URI spellings differ:
        // file:/x vs file:///x).
        val existing = listInputFiles(spark, cfg.inputDir)
        if (existing.isEmpty) typed
        else typed.filter(
          !regexp_replace(col("_metadata.file_path"), "^[a-zA-Z0-9.+-]+:/+", "/")
            .isin(existing: _*))
      case _ => typed
    }
  }

  /** Current files under the input dir as scheme-less absolute paths. */
  private def listInputFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) out += st.getPath.toUri.getPath
    }
    out.result()
  }

  private def trigger(cfg: Config): Trigger =
    if (cfg.availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(cfg.triggerInterval)

  /** Audit-log stream (S8/ST6): parsed envelope rows appended forever to a
    * versioned GraftTable, one commit per micro-batch. */
  def startAuditStream(spark: SparkSession, cfg: Config): StreamingQuery =
    Parse.parseDebezium(source(spark, cfg)).writeStream
      .queryName("cdc_events_audit")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/cdc_events")
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // appendOnce: a batch replayed after a crash between sink write
          // and checkpoint commit is detected by its txn stamp and skipped
          // — exactly-once audit rows (ST3/ST9).
          val audit = GraftTable.createIfNotExists(spark, auditTablePath(cfg), batch.limit(0))
          audit.appendOnce(batch, "cdc_events_audit", batchId)
          mirrorDelta(cfg, audit)
        }
      }
      .start()

  /** Latest event per key within a batch, keyed on the JSON `id`: a batch
    * can carry insert→update→delete chains for one row; only the final
    * image may win. The reference applies upserts before deletes
    * (spark_streaming.py:312-391), which mis-orders a delete→re-insert
    * batch; resolving per-key by kafka_offset is strictly more faithful to
    * the source of truth. */
  private[pipeline] def latestPerKey(auditRows: DataFrame, table: String): DataFrame = {
    val keyed = auditRows
      .filter(col("source_table") === table)
      .withColumn("__key",
        coalesce(
          get_json_object(col("after_data"), "$.id"),
          get_json_object(col("before_data"), "$.id")).cast("long"))
      .filter(col("__key").isNotNull)
    // WAL LSN is the true source order; offsets only order within one Kafka
    // partition, so they are a tiebreaker, not the primary sort.
    val w = Window.partitionBy("__key")
      .orderBy(desc("source_lsn"), desc("event_timestamp"),
        desc("kafka_partition"), desc("kafka_offset"))
    keyed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__key")
  }

  /** Apply one parsed micro-batch to one table's snapshot: winner rows with
    * op c/u/r merge (M1), winner rows with op d delete (M3). */
  private[pipeline] def applyBatchToSnapshot(
      spark: SparkSession, cfg: Config, table: String, auditRows: DataFrame): Unit = {
    val winners = latestPerKey(auditRows, table)
    // Pin processing time per batch: current_timestamp() re-evaluates per
    // job, and the merge writes its row images and its change feed in
    // separate jobs that must agree.
    val batchTs = new java.sql.Timestamp(System.currentTimeMillis())
    val upserts = Parse.typedSnapshotRows(winners, table)
      .withColumn("__processed_at", lit(batchTs))
    val deletes = Parse.typedDeleteRows(winners, table)
      .withColumn("__cdc_operation", lit("DELETE"))
      .withColumn("__processed_at", lit(batchTs))
    val path = snapshotPath(cfg, table)
    // The table's log is resolved once here; the merge and the mirror
    // reuse the handle.
    val existing = GraftTable.find(spark, path)
    // SINGLE-PASS apply: upserts AND deletes ride ONE positional clause
    // merge — one join, one commit per micro-batch, and only batch-sized
    // writes: replaced and deleted rows are marked in a deletion vector,
    // new row images land in one new data dir. Change detection is the
    // matched-UPDATE clause's condition (Delta's own spelling of
    // spark_delta_handler.py:222-236): a re-delivered identical row
    // matches NO clause — a true no-op, no CDF row, and a batch of only
    // such rows publishes no version at all.
    if (existing.isDefined || !upserts.isEmpty) {
      val t = existing.getOrElse(GraftTable.create(spark, path, upserts.limit(0)))
      val src = upserts.unionByName(
        deletes.select(upserts.columns.map(col).toSeq: _*))
      val meta = Set("id", "__cdc_operation", "__cdc_timestamp", "__processed_at")
      val changed = upserts.columns.filterNot(meta.contains).toSeq
        .map(c => !(col(s"t.$c") <=> col(s"s.$c")))
        .reduceOption(_ || _).getOrElse(lit(false))
      t.mergeClausesPositional(src, Seq("id"), None,
        matched = Seq(
          graft.table.MergeClause.Delete(
            Some(col("s.__cdc_operation") === "DELETE")),
          graft.table.MergeClause.UpdateAll(Some(changed))),
        notMatched = Seq(
          graft.table.MergeClause.InsertAll(
            Some(col("s.__cdc_operation") =!= "DELETE"))))
      // Marked rows cost every read a position filter and still occupy
      // their bytes; once they pass a tenth of the live rows, rewriting
      // just the marked dirs is cheaper than that recurring tax (Delta's
      // auto-compaction of deletion vectors). The check reads parquet
      // footers only, so a batch that stays under the ratio pays no job
      // for it.
      t.maybeMaterialize(maxDeletedRatio = 0.1)
      mirrorDelta(cfg, t)
    }
  }

  /** Bring the table's `_delta_log` mirror to the current head (no-op
    * when [[Config.deltaMirror]] is off).
    * A classic checkpoint lands whenever the tail since the last one
    * reaches 10 commits (Delta's own cadence): the per-batch resume then
    * folds one parquet read + a ≤10-commit JSON tail, not the table's
    * whole history — constant-time mirroring for streams that run for
    * months. */
  private def mirrorDelta(cfg: Config, t: GraftTable): Unit =
    if (cfg.deltaMirror) {
      graft.sources.DeltaExport.exportLog(t)
      graft.sources.DeltaExport.maintainCheckpoint(t.spark, t.root)
      (): Unit
    }

  /** Apply one parsed micro-batch to a FOREIGN Delta table — CDC
    * replication onto a shared lakehouse table graft does not govern
    * (other engines own and keep reading it), as ONE clause-merge commit
    * ([[graft.sources.DeltaExport.mergeForeignClauses]]): winners with op
    * d claim the `WHEN MATCHED AND is_delete THEN DELETE` clause, winners
    * with c/u/r claim `UPDATE SET ALL` / `INSERT ALL`. Atomicity and
    * idempotence come for free from the single commit: the (appId,
    * batchId) txn stamp covers delete AND upsert together, so readers
    * never observe a half-applied batch and an at-least-once redelivery
    * is a watermarked no-op — the two-commit shape this replaced stamped
    * only the merge half. Delete keys flow through the merge join, never
    * a collected driver list. `latestPerKey` keeps one winner per key, so
    * a key never carries both a delete and an upsert within one batch. */
  def applyBatchToForeign(spark: SparkSession, table: String,
      auditRows: DataFrame, tablePath: String, appId: String,
      batchId: Long): Unit = {
    import graft.table.MergeClause
    val winners = latestPerKey(auditRows, table)
    val upserts = Parse.typedSnapshotRows(winners, table)
      .withColumn("__cdc_is_delete", lit(false))
    val deletes = Parse.typedDeleteRows(winners, table)
      .withColumn("__cdc_is_delete", lit(true))
    val source = upserts.unionByName(deletes, allowMissingColumns = true)
    if (source.isEmpty) return
    val isDel = col("s.__cdc_is_delete")
    graft.sources.DeltaExport.mergeForeignClauses(spark, tablePath,
      source, Seq("id"),
      matched = Seq(
        MergeClause.Delete(condition = Some(isDel)),
        MergeClause.UpdateAll(condition = Some(!isDel))),
      notMatched = Seq(MergeClause.InsertAll(condition = Some(!isDel))),
      txn = Some((appId, batchId)))
    ()
  }

  /** Streaming CDC apply onto a foreign Delta table: the
    * [[startSnapshotStream]] shape with [[applyBatchToForeign]] as the
    * sink. `appId` defaults to the checkpoint identity. */
  def startForeignApplyStream(spark: SparkSession, cfg: Config,
      table: String, tablePath: String): StreamingQuery = {
    val appId = s"${cfg.checkpointRoot}/foreign-$table"
    Parse.parseDebezium(source(spark, cfg)).writeStream
      .queryName(s"cdc-foreign-$table")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/foreign-$table")
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          applyBatchToForeign(spark, table, batch, tablePath, appId, batchId)
      }
      .start()
  }

  /** Tables of one micro-batch applied at once. A table's apply is a
    * chain of small Spark jobs with driver-side planning and log work
    * between them, so it leaves the cores mostly idle; a second table in
    * flight fills those gaps. Measured on a 4-core host (cdc_apply, four
    * tables, seeds 41–44): per-batch p50 6.24 s one at a time, 4.52 s two
    * at a time at the same peak RSS, 4.26 s four at a time at +8% peak
    * RSS (+12% in one run). */
  private val ApplyWidth = 2

  /** Apply one micro-batch to every table of `tables`, [[ApplyWidth]] at a
    * time, keeping the batch persisted until the last one is done: each
    * table re-reads it for its winners, upserts and deletes. The tables
    * are independent (each has its own log, so their commits cannot
    * conflict). Tasks run through `SQLExecution.withThreadLocalCaptured`,
    * so their jobs carry the stream's job group and local properties and
    * stopping the query cancels them. Every table runs even when another
    * fails; the first failure in `tables` order is rethrown, the others
    * attached as suppressed. An interrupt cancels the tasks in flight and
    * drains the pool before the batch is released. */
  private def applyPerTable(batch: DataFrame, tables: Seq[String])(
      apply: String => Unit): Unit = {
    val session = batch.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val threads = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(ApplyWidth, (r: Runnable) => {
      val th = new Thread(r, s"graft-cdc-apply-${threads.incrementAndGet()}")
      th.setDaemon(true)
      th
    })
    batch.persist()
    try {
      val tasks = tables.map(t => SQLExecution.withThreadLocalCaptured(session, pool)(apply(t)))
      rethrowFirst(tasks.flatMap(f => Try(f.get()).failed.toOption.map(unwrap)))
    } finally {
      pool.shutdownNow()
      try pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      finally { batch.unpersist(); (): Unit }
    }
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case _: ExecutionException | _: CompletionException if e.getCause != null =>
      unwrap(e.getCause)
    case _ => e
  }

  private def rethrowFirst(failures: Seq[Throwable]): Unit =
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }

  /** Snapshot stream (S9/ST5): one foreachBatch query maintaining all
    * configured tables, per-batch parse → split by table → merge/delete. */
  def startSnapshotStream(spark: SparkSession, cfg: Config): StreamingQuery =
    Parse.parseDebezium(source(spark, cfg)).writeStream
      .queryName("table_snapshots")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/snapshots")
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          applyPerTable(batch, cfg.tables)(applyBatchToSnapshot(spark, cfg, _, batch))
          if (cfg.maintainMvs) MaterializedViews.maintain(spark, cfg)
        }
      }
      .start()

  def scd2Path(cfg: Config, table: String): String =
    s"${cfg.tableRoot}/scd2_$table"

  /** Apply one parsed micro-batch to one table's SCD2 HISTORY dimension:
    * per-key winners become Scd2 change rows — after-images as upserts,
    * before-images of deletes as tombstones — effective at their own CDC
    * event time, merged incrementally ([[Scd2.maintain]]: O(changed rows),
    * replay-idempotent). The history-preserving sibling of
    * [[applyBatchToSnapshot]]: the snapshot answers "what is", this table
    * answers "what was, when". */
  private[pipeline] def applyBatchToScd2(
      spark: SparkSession, cfg: Config, table: String, auditRows: DataFrame): Unit = {
    val winners = latestPerKey(auditRows, table)
    val upserts = Parse.typedSnapshotRows(winners, table)
      .drop("__cdc_operation", "__processed_at")
      .withColumn("__is_del", lit(false))
    val deletes = Parse.typedDeleteRows(winners, table)
      .withColumn("__is_del", lit(true))
    val changes = upserts.unionByName(deletes)
    if (!changes.isEmpty) {
      val path = scd2Path(cfg, table)
      val t =
        if (GraftTable.isTable(spark, path)) GraftTable.forPath(spark, path)
        else graft.pipeline.Scd2.initTable(spark, path,
          changes.drop("__cdc_timestamp", "__is_del").limit(0),
          "id", lit(null).cast("timestamp"))
      graft.pipeline.Scd2.maintain(t, changes, "id", col("__cdc_timestamp"),
        deleteCol = Some("__is_del"))
      mirrorDelta(cfg, t)
    }
  }

  /** SCD2 dimension-history stream: one foreachBatch query maintaining the
    * history table of every configured table. */
  def startScd2Stream(spark: SparkSession, cfg: Config): StreamingQuery =
    Parse.parseDebezium(source(spark, cfg)).writeStream
      .queryName("scd2_dimensions")
      .option("checkpointLocation", s"${cfg.checkpointRoot}/scd2")
      .trigger(trigger(cfg))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          applyPerTable(batch, cfg.tables)(applyBatchToScd2(spark, cfg, _, batch))
      }
      .start()

  /** Run both sinks (ST4): audit + snapshots, awaiting termination —
    * `main()`'s shape at spark_streaming.py:417-478. Both queries are
    * awaited and neither outlives the call: a failure of one does not
    * leave the other running against the same checkpoints. The first
    * failure is rethrown, the other attached as suppressed. */
  def runOnce(spark: SparkSession, cfg: Config): Unit = {
    val once = cfg.copy(availableNow = true)
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      started += startAuditStream(spark, once)
      started += startSnapshotStream(spark, once)
      rethrowFirst(started.toSeq.flatMap(q => Try(q.awaitTermination()).failed.toOption))
    } finally started.foreach(_.stop())
  }

  /** Graceful shutdown (ST7, spark_streaming.py:429-444): stop every active
    * query after its in-flight batch completes; safe from a signal hook. */
  def stopAll(spark: SparkSession): Unit =
    spark.streams.active.foreach(_.stop())
}
