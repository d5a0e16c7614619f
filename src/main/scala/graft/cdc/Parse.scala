package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Debezium-envelope parsing, re-expressed as pure column transforms so the
  * whole pipeline stays inside Catalyst/WholeStageCodegen — no UDFs, which
  * also matches the reference (SURVEY §2.11: zero UDFs registered).
  *
  * Port of `/root/reference/consumer/spark-streaming/spark_streaming.py:201-265`
  * (`parse_debezium_cdc`) plus the per-table inner parse (:332-341, :373-379).
  * Works identically on a batch or streaming DataFrame.
  */
object Parse {

  /** Op-code → human name (spark_streaming.py:236-243; shared/models.py:69-71). */
  def opName(op: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(op === "c", "INSERT")
      .when(op === "u", "UPDATE")
      .when(op === "d", "DELETE")
      .when(op === "r", "READ")
      .otherwise("UNKNOWN")

  /** Kafka-shaped records (see [[Envelope.kafkaRecordSchema]]) → the 15-col
    * `cdc_events` audit rows: JSON envelope parse, metadata extraction,
    * synthetic event id, ms→timestamp, op decode, tombstone drop. */
  def parseDebezium(records: DataFrame): DataFrame = {
    records
      .select(
        from_json(col("value").cast("string"), Envelope.messageSchema).as("msg"),
        col("topic"), col("partition"), col("offset"))
      // Tombstones (null value → null payload) dropped, as the reference
      // does (spark_streaming.py:245; consumer.py:152-162).
      .filter(col("msg.payload").isNotNull && col("msg.payload.op").isNotNull)
      .select(
        concat_ws("-", col("topic"), col("partition"), col("offset")).as("event_id"),
        col("msg.payload.source.table").as("source_table"),
        col("msg.payload.op").as("operation"),
        opName(col("msg.payload.op")).as("operation_name"),
        col("msg.payload.before").as("before_data"),
        col("msg.payload.after").as("after_data"),
        col("topic").as("kafka_topic"),
        col("partition").as("kafka_partition"),
        col("offset").as("kafka_offset"),
        // Envelope ts_ms is epoch-millis (spark_streaming.py:233).
        timestamp_millis(col("msg.payload.ts_ms")).as("event_timestamp"),
        current_timestamp().as("processed_at"),
        col("msg.payload.source.db").as("source_db"),
        col("msg.payload.source.schema").as("source_schema"),
        col("msg.payload.source.lsn").as("source_lsn"),
        col("msg.payload.source.txId").as("source_txid"))
  }

  /** Upsert-side rows for one table: filter `c/u/r`, parse `after_data` with
    * the table schema, star-expand, convert Debezium epoch-micros columns to
    * timestamps (database.py:20-27: value/1e6), and attach the snapshot
    * metadata columns (`__cdc_operation`, `__cdc_timestamp`,
    * `__processed_at`; spark_streaming.py:98-100, 332-341). */
  def typedSnapshotRows(auditRows: DataFrame, table: String): DataFrame = {
    val schema = Envelope.tableJsonSchemas(table)
    val base = auditRows
      .filter(col("source_table") === table &&
        col("operation").isin("c", "u", "r") &&
        col("after_data").isNotNull)
      .select(
        from_json(col("after_data"), schema).as("record"),
        col("operation_name").as("__cdc_operation"),
        col("event_timestamp").as("__cdc_timestamp"))
      .filter(col("record.id").isNotNull)
      .select(col("record.*"), col("__cdc_operation"), col("__cdc_timestamp"))
      .withColumn("__processed_at", current_timestamp())
    Envelope.microsTimestampCols(table).foldLeft(base) { (df, c) =>
      df.withColumn(c, timestamp_micros(col(c)))
    }
  }

  /** Delete-side rows for one table (spark_streaming.py:373-379): the
    * `before_data` image parsed with the same schema as
    * [[typedSnapshotRows]] parses after-images, fully typed. The snapshot
    * sink merges them as keyed deletes through the batch's one join,
    * instead of the reference's driver-collected id list
    * (spark_streaming.py:383); SCD2 maintenance needs the closing row's
    * attributes, not just its key ([[graft.pipeline.Scd2]] change batches
    * carry every dimension attribute). */
  def typedDeleteRows(auditRows: DataFrame, table: String): DataFrame = {
    val schema = Envelope.tableJsonSchemas(table)
    val base = auditRows
      .filter(col("source_table") === table &&
        col("operation") === "d" &&
        col("before_data").isNotNull)
      .select(
        from_json(col("before_data"), schema).as("record"),
        col("event_timestamp").as("__cdc_timestamp"))
      .filter(col("record.id").isNotNull)
      .select(col("record.*"), col("__cdc_timestamp"))
    Envelope.microsTimestampCols(table).foldLeft(base) { (df, c) =>
      df.withColumn(c, timestamp_micros(col(c)))
    }
  }
}
