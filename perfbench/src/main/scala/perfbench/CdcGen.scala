package perfbench

import scala.collection.mutable

import graft.cdc.Envelope

/** One Debezium change event as the generator emitted it. Row images hold
  * the values of `Envelope.tableJsonSchemas(table)` in field order
  * (timestamps as epoch micros). Op `t` is a Kafka tombstone: a key with a
  * null value, which the pipeline drops. */
final case class Event(table: String, op: String, key: Long,
    before: Option[Vector[Any]], after: Option[Vector[Any]],
    lsn: Long, tsMs: Long, offset: Long) {
  def tombstone: Boolean = op == "t"
}

/** Row counts of the four source tables. `sf(x)` maps TPC-H scale factor x
  * onto them the way the reference's schema stands in for TPC-H:
  * customer→customers, part→products, orders→orders, lineitem→order_items. */
final case class Sizes(customers: Int, products: Int, orders: Int, orderItems: Int) {
  def of(table: String): Int = table match {
    case "customers" => customers
    case "products" => products
    case "orders" => orders
    case "order_items" => orderItems
  }
}
object Sizes {
  def sf(x: Double): Sizes = Sizes((150000 * x).round.toInt, (200000 * x).round.toInt,
    (1500000 * x).round.toInt, (6000000 * x).round.toInt)
}

/** Seeded generator of the CDC stream. The same seed and sizes give the
  * same events in the same order, hence byte-identical input files.
  *
  * Keys are Zipf-skewed (exponent 1) over a seeded permutation of the
  * initial ids, so hot keys are spread over the key space. A batch is mostly
  * updates, with inserts of new ids, deletes (each followed by a
  * tombstone), insert→update→delete chains on new ids, delete→re-insert
  * chains on live keys, and updates that redeliver the current image
  * unchanged (which must be no-ops). */
final class CdcGen(seed: Long, val sizes: Sizes, touchFraction: Double) {
  import CdcGen._

  private val rng = new java.util.SplittableRandom(seed)
  private val live: Map[String, mutable.LongMap[Vector[Any]]] =
    tables.map(_ -> mutable.LongMap.empty[Vector[Any]]).toMap
  private val nextId = mutable.Map(tables.map(t => t -> (sizes.of(t) + 1L)): _*)
  private val offsets = mutable.Map(tables.map(_ -> 0L): _*)
  private var lsn = 1000L
  private var tsMs = BaseMs
  private var version = 0L
  private val rankToId: Map[String, Array[Long]] = tables.map { t =>
    val ids = Array.tabulate(sizes.of(t))(i => i + 1L)
    var i = ids.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val x = ids(i); ids(i) = ids(j); ids(j) = x
      i -= 1
    }
    t -> ids
  }.toMap
  private val zipf: Map[String, Array[Double]] = tables.map { t =>
    val n = sizes.of(t)
    val cdf = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / (r + 1); cdf(r) = acc; r += 1 }
    t -> cdf
  }.toMap

  /** Current state per table, as the generator believes it. */
  def state(table: String): collection.Map[Long, Vector[Any]] = live(table)

  /** Op `r` snapshot events for every initial row. Call once, first. */
  def snapshot(): Vector[Event] = {
    val out = Vector.newBuilder[Event]
    tables.foreach { t =>
      var id = 1L
      while (id <= sizes.of(t)) {
        val row = newRow(t, id)
        out += emit(t, "r", id, None, Some(row))
        id += 1
      }
    }
    out.result()
  }

  /** The next batch of the fixed sequence. Each table gets exactly
    * `touchFraction` of its initial key count in non-tombstone events (at
    * least one), so every batch of a run carries the same amount of work. */
  def nextBatch(): Vector[Event] = {
    version += 1
    val out = Vector.newBuilder[Event]
    tables.foreach { t =>
      val target = math.max(1, math.round(sizes.of(t) * touchFraction).toInt)
      var n = 0
      def put(e: Event): Unit = { out += e; if (!e.tombstone) n += 1 }
      while (n < target) {
        val x = rng.nextDouble()
        val k = hotKey(t)
        val room = target - n
        live(t).get(k) match {
          case None => put(emit(t, "c", k, None, Some(newRow(t, k))))
          case Some(row) if x < 0.72 => put(emit(t, "u", k, Some(row), Some(mutate(t, row))))
          case Some(_) if x < 0.80 =>
            val id = freshId(t)
            put(emit(t, "c", id, None, Some(newRow(t, id))))
          case Some(row) if x < 0.87 =>
            put(emit(t, "d", k, Some(row), None))
            put(emit(t, "t", k, None, None))
          case Some(row) if x < 0.93 => put(emit(t, "u", k, Some(row), Some(row)))
          case Some(_) if x < 0.97 && room >= 3 =>
            val id = freshId(t)
            val row = newRow(t, id)
            val upd = mutate(t, row)
            put(emit(t, "c", id, None, Some(row)))
            put(emit(t, "u", id, Some(row), Some(upd)))
            put(emit(t, "d", id, Some(upd), None))
            put(emit(t, "t", id, None, None))
          case Some(row) if x >= 0.97 && room >= 2 =>
            put(emit(t, "d", k, Some(row), None))
            put(emit(t, "t", k, None, None))
            put(emit(t, "c", k, None, Some(newRow(t, k))))
          case Some(row) => put(emit(t, "u", k, Some(row), Some(mutate(t, row))))
        }
      }
    }
    out.result()
  }

  private def freshId(t: String): Long = { val id = nextId(t); nextId(t) = id + 1; id }

  private def hotKey(t: String): Long = {
    val cdf = zipf(t)
    val u = rng.nextDouble() * cdf(cdf.length - 1)
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    rankToId(t)(math.min(i, cdf.length - 1))
  }

  private def emit(t: String, op: String, key: Long, before: Option[Vector[Any]],
      after: Option[Vector[Any]]): Event = {
    lsn += 1 + rng.nextInt(3)
    tsMs += 1 + rng.nextInt(5)
    val off = offsets(t); offsets(t) = off + 1
    op match {
      case "d" => live(t) -= key
      case "t" =>
      case _ => live(t)(key) = after.get
    }
    Event(t, op, key, before, after, lsn, tsMs, off)
  }

  private def cents(lo: Int, hi: Int): Double = (lo + rng.nextInt(hi - lo)) / 100.0
  private def micros(): Long = (BaseMs - rng.nextLong(YearMs * 5)) * 1000L
  private def pick(xs: IndexedSeq[String]): String = xs(rng.nextInt(xs.length))

  private def newRow(t: String, id: Long): Vector[Any] = t match {
    case "customers" =>
      val (f, l) = (pick(FirstNames), pick(LastNames))
      val at = micros()
      Vector[Any](id, f, l, s"${f.toLowerCase}.${l.toLowerCase}$id@example.com",
        f"555-${rng.nextInt(10000)}%04d", at, at)
    case "products" =>
      val at = micros()
      Vector[Any](id, s"${pick(Adjectives)} ${pick(Nouns)} $id",
        s"${pick(Adjectives)} ${pick(Adjectives).toLowerCase} ${pick(Nouns).toLowerCase}",
        cents(199, 99999), stock(), pick(Categories), at, at)
    case "orders" =>
      val at = micros()
      Vector[Any](id, 1L + rng.nextInt(sizes.customers), at, pick(Statuses),
        cents(1000, 5000000), s"${1 + rng.nextInt(9999)} ${pick(LastNames)} St, City ${rng.nextInt(500)}",
        at, at)
    case "order_items" =>
      Vector[Any](id, 1L + (id - 1) / 4, 1L + rng.nextInt(sizes.products),
        1 + rng.nextInt(10), cents(199, 99999), micros())
  }

  private def stock(): Int = rng.nextInt(10) match {
    case 0 => 0
    case 1 | 2 => 1 + rng.nextInt(9)
    case _ => 10 + rng.nextInt(490)
  }

  /** An update of a live row: a business field changes and, where the
    * table has one, `updated_at` moves forward. */
  private def mutate(t: String, row: Vector[Any]): Vector[Any] = {
    val later = (tsMs + version) * 1000L
    t match {
      case "customers" =>
        if (rng.nextBoolean()) row.updated(3, s"user${rng.nextInt(1000000)}@example.org").updated(6, later)
        else row.updated(4, f"555-${rng.nextInt(10000)}%04d").updated(6, later)
      case "products" =>
        if (rng.nextBoolean()) row.updated(3, cents(199, 99999)).updated(7, later)
        else row.updated(4, stock()).updated(7, later)
      case "orders" =>
        row.updated(3, pick(Statuses)).updated(4, cents(1000, 5000000)).updated(7, later)
      case "order_items" =>
        row.updated(3, 1 + rng.nextInt(10))
    }
  }
}

object CdcGen {
  val tables: Seq[String] = Envelope.tableNames
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  private val YearMs = 365L * 24 * 3600 * 1000

  private val FirstNames = Vector("Ada", "Bo", "Chen", "Dana", "Eli", "Fatima", "Gus",
    "Hana", "Ivan", "Jo", "Kai", "Lena", "Mo", "Nia", "Omar", "Pia")
  private val LastNames = Vector("Smith", "Nguyen", "Garcia", "Khan", "Ito", "Berg",
    "Costa", "Diaz", "Evans", "Fox", "Gray", "Hill")
  private val Adjectives = Vector("Classic", "Smart", "Compact", "Deluxe", "Rugged",
    "Portable", "Quiet", "Bright")
  private val Nouns = Vector("Lamp", "Chair", "Kettle", "Speaker", "Backpack", "Desk",
    "Monitor", "Blender", "Jacket", "Router")
  private val Categories = Vector("Electronics", "Home", "Kitchen", "Outdoor",
    "Office", "Apparel")
  private val Statuses = Vector("pending", "processing", "shipped", "delivered", "cancelled")

  def topic(table: String): String = s"dbserver1.public.$table"

  /** Kafka-record JSON lines (`Envelope.kafkaRecordSchema`) for a batch. */
  def kafkaLines(events: Seq[Event]): String = {
    val sb = new StringBuilder
    events.foreach { e =>
      sb.append("{\"key\":").append(quote(s"""{"id":${e.key}}"""))
      sb.append(",\"value\":")
      if (e.tombstone) sb.append("null") else sb.append(quote(envelope(e)))
      sb.append(",\"topic\":").append(quote(topic(e.table)))
      sb.append(",\"partition\":0,\"offset\":").append(e.offset)
      sb.append(",\"timestamp\":").append(quote(java.time.Instant.ofEpochMilli(e.tsMs).toString))
      sb.append("}\n")
    }
    sb.toString
  }

  private def envelope(e: Event): String = {
    def image(r: Option[Vector[Any]]): String = r.fold("null")(rowJson(e.table, _))
    s"""{"payload":{"before":${image(e.before)},"after":${image(e.after)},""" +
      s""""source":{"version":"2.5.0.Final","connector":"postgresql","name":"dbserver1",""" +
      s""""ts_ms":${e.tsMs},"snapshot":"${e.op == "r"}","db":"inventory","schema":"public",""" +
      s""""table":"${e.table}","txId":${e.lsn / 8},"lsn":${e.lsn}},""" +
      s""""op":"${e.op}","ts_ms":${e.tsMs}}}"""
  }

  def rowJson(table: String, row: Vector[Any]): String =
    Envelope.tableJsonSchemas(table).fieldNames.zip(row).map { case (n, v) =>
      val js = v match {
        case s: String => quote(s)
        case d: Double => d.toString
        case other => other.toString
      }
      s"${quote(n)}:$js"
    }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Last-writer-wins replay of a change stream: the state a correct CDC apply
  * must leave. Events are applied in LSN order (the source's commit order);
  * an insert, update or snapshot read sets the key's row to its after-image,
  * a delete removes the key, and a tombstone changes nothing. */
object Lww {
  type State = Map[String, Map[Long, Vector[Any]]]

  def replay(events: Iterable[Event], from: State = Map.empty): State = {
    val st = mutable.Map.empty[String, mutable.LongMap[Vector[Any]]]
    from.foreach { case (t, rows) => st(t) = mutable.LongMap(rows.toSeq: _*) }
    events.toSeq.sortBy(_.lsn).foreach { e =>
      val rows = st.getOrElseUpdate(e.table, mutable.LongMap.empty)
      e.op match {
        case "c" | "u" | "r" => rows(e.key) = e.after.get
        case "d" => rows -= e.key
        case _ =>
      }
    }
    st.map { case (t, rows) => t -> rows.toMap }.toMap
  }

  /** Net change per key between two states of one table, as a change feed
    * reports a batch: (change type, row image). */
  def netChanges(before: Map[Long, Vector[Any]], after: Map[Long, Vector[Any]])
      : Seq[(String, Vector[Any])] =
    (before.keySet ++ after.keySet).toSeq.sorted.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(a)) => Seq("insert" -> a)
        case (Some(b), None) => Seq("delete" -> b)
        case (Some(b), Some(a)) if b != a => Seq("update_preimage" -> b, "update_postimage" -> a)
        case _ => Nil
      }
    }
}
