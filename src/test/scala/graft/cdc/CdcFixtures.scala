package graft.cdc

/** Debezium-envelope JSON builders for tests — the reference's seed rows and
  * smoke-test DML (`/root/reference/init-scripts/source-init.sql:78-104`,
  * `scripts/test-cdc.sh:22-47`) replayed as envelope strings. */
object CdcFixtures {

  private var offset: Long = -1L

  def nextOffset(): Long = { offset += 1; offset }

  /** One Kafka-shaped record tuple (key, value, topic, partition, offset, ts). */
  def record(
      table: String,
      op: String,
      id: Long,
      after: Option[String],
      before: Option[String] = None,
      tsMs: Long = 1700000000000L,
      off: Long = nextOffset()): (String, String, String, Int, Long, java.sql.Timestamp) = {
    def j(o: Option[String]) = o.getOrElse("null")
    val value =
      s"""{"payload":{"before":${j(before)},"after":${j(after)},
         |"source":{"version":"2.4","connector":"postgresql","name":"cdc",
         |"ts_ms":$tsMs,"snapshot":"false","db":"sourcedb","schema":"public",
         |"table":"$table","txId":${1000 + off},"lsn":${5000 + off}},
         |"op":"$op","ts_ms":$tsMs}}""".stripMargin.replaceAll("\n", "")
    (s"""{"id":$id}""", value, s"cdc.public.$table", 0, off, new java.sql.Timestamp(tsMs))
  }

  def customerJson(id: Long, first: String, last: String, email: String,
      phone: String = "555-0100", tsUs: Long = 1700000000000000L): String =
    s"""{"id":$id,"first_name":"$first","last_name":"$last","email":"$email",
       |"phone":"$phone","created_at":$tsUs,"updated_at":$tsUs}""".stripMargin.replaceAll("\n", "")

  def productJson(id: Long, name: String, price: Double, stock: Int,
      category: String = "misc", tsUs: Long = 1700000000000000L): String =
    s"""{"id":$id,"name":"$name","description":"d$id","price":$price,
       |"stock_quantity":$stock,"category":"$category","created_at":$tsUs,
       |"updated_at":$tsUs}""".stripMargin.replaceAll("\n", "")

  def orderJson(id: Long, customerId: Long, status: String, total: Double,
      tsUs: Long = 1700000000000000L): String =
    s"""{"id":$id,"customer_id":$customerId,"order_date":$tsUs,"status":"$status",
       |"total_amount":$total,"shipping_address":"a$id","created_at":$tsUs,
       |"updated_at":$tsUs}""".stripMargin.replaceAll("\n", "")

  def orderItemJson(id: Long, orderId: Long, productId: Long, quantity: Int,
      unitPrice: Double, tsUs: Long = 1700000000000000L): String =
    s"""{"id":$id,"order_id":$orderId,"product_id":$productId,"quantity":$quantity,
       |"unit_price":$unitPrice,"created_at":$tsUs}""".stripMargin.replaceAll("\n", "")

  /** Writes `recs` as one JSON-lines input file `name` under `dir`, in the
    * Kafka-record shape the pipeline's file source reads. */
  def writeBatch(dir: String, name: String,
      recs: Seq[(String, String, String, Int, Long, java.sql.Timestamp)]): Unit = {
    def quoted(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = recs.map { case (k, v, topic, part, off, ts) =>
      s"""{"key":${quoted(k)},"value":${Option(v).map(quoted).getOrElse("null")},"topic":"$topic","partition":$part,"offset":$off,"timestamp":"${ts.toInstant}"}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))
    ()
  }

  /** A tombstone record (null value), as Kafka compaction emits. */
  def tombstone(table: String, id: Long, off: Long = nextOffset()): (String, String, String, Int, Long, java.sql.Timestamp) =
    (s"""{"id":$id}""", null, s"cdc.public.$table", 0, off, new java.sql.Timestamp(1700000000000L))
}
