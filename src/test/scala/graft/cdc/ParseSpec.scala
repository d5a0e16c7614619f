package graft.cdc

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ParseSpec extends SparkSpec {
  import spark.implicits._

  private def toDf(recs: Seq[(String, String, String, Int, Long, java.sql.Timestamp)]) =
    recs.toDF("key", "value", "topic", "partition", "offset", "timestamp")

  test("parseDebezium extracts the 15 audit columns and drops tombstones") {
    val recs = Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 0),
      CdcFixtures.record("customers", "u", 1,
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@new.com")),
        Some(CdcFixtures.customerJson(1, "John", "Doe", "john@x.com")), off = 1),
      CdcFixtures.tombstone("customers", 1, off = 2),
      CdcFixtures.record("orders", "d", 7, None,
        Some(CdcFixtures.orderJson(7, 1, "pending", 99.5)), off = 3))
    val parsed = Parse.parseDebezium(toDf(recs)).orderBy("kafka_offset")

    assert(parsed.columns.toSeq === Envelope.auditSchema.fieldNames.toSeq)
    val rows = parsed.collect()
    assert(rows.length === 3) // tombstone dropped
    assert(rows(0).getAs[String]("event_id") === "cdc.public.customers-0-0")
    assert(rows(0).getAs[String]("operation_name") === "INSERT")
    assert(rows(1).getAs[String]("operation_name") === "UPDATE")
    assert(rows(1).getAs[String]("before_data").contains("john@x.com"))
    assert(rows(2).getAs[String]("source_table") === "orders")
    assert(rows(2).getAs[String]("operation_name") === "DELETE")
    assert(rows(2).getAs[String]("after_data") === null)
    assert(rows(0).getAs[java.sql.Timestamp]("event_timestamp").getTime === 1700000000000L)
    assert(rows(0).getAs[Long]("source_lsn") === 5000L)
  }

  test("typedSnapshotRows parses after_data, converts micros, tags metadata") {
    val tsUs = 1700000123456789L
    val recs = Seq(
      CdcFixtures.record("customers", "c", 1,
        Some(CdcFixtures.customerJson(1, "Ann", "A", "ann@x.com", tsUs = tsUs)), off = 10),
      CdcFixtures.record("orders", "c", 5,
        Some(CdcFixtures.orderJson(5, 1, "pending", 42.0)), off = 11))
    val audit = Parse.parseDebezium(toDf(recs))

    val cust = Parse.typedSnapshotRows(audit, "customers")
    val r = cust.collect().head
    assert(r.getAs[Long]("id") === 1L)
    assert(r.getAs[String]("email") === "ann@x.com")
    assert(r.getAs[String]("__cdc_operation") === "INSERT")
    // micros → timestamp (database.py:20-27 semantics)
    assert(r.getAs[java.sql.Timestamp]("created_at").getTime === tsUs / 1000)
    // cross-table rows don't leak
    assert(Parse.typedSnapshotRows(audit, "orders").count() === 1)
    assert(Parse.typedSnapshotRows(audit, "products").count() === 0)
  }

  test("opName decodes all Debezium op codes") {
    val df = Seq("c", "u", "d", "r", "x").toDF("op")
      .select(Parse.opName(col("op")).as("name"))
    assert(df.as[String].collect().toSeq ===
      Seq("INSERT", "UPDATE", "DELETE", "READ", "UNKNOWN"))
  }
}
