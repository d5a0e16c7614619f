package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CdcGenSpec extends AnyFunSuite {

  private val sizes = Sizes(30, 40, 300, 1200)

  private def ev(op: String, key: Long, before: Option[Vector[Any]], after: Option[Vector[Any]],
      lsn: Long) = Event("customers", op, key, before, after, lsn, 0L, lsn)

  private val a = Vector[Any](1L, "Ada", "Smith", "a@x", "555-0001", 1L, 1L)
  private val b = Vector[Any](1L, "Ada", "Smith", "b@x", "555-0001", 1L, 2L)

  test("last writer wins across a delete → re-insert chain") {
    val st = Lww.replay(Seq(
      ev("r", 1, None, Some(a), 10), ev("d", 1, Some(a), None, 11),
      ev("t", 1, None, None, 12), ev("c", 1, None, Some(b), 13)))
    assert(st("customers") == Map(1L -> b))
  }

  test("an insert → update → delete chain leaves no row, in LSN order not list order") {
    val st = Lww.replay(Seq(
      ev("d", 2, Some(b), None, 22), ev("c", 2, None, Some(a), 20), ev("u", 2, Some(a), Some(b), 21)))
    assert(st("customers").isEmpty)
  }

  test("a redelivered unchanged row changes nothing") {
    val base = Lww.replay(Seq(ev("r", 1, None, Some(a), 1)))
    val after = Lww.replay(Seq(ev("u", 1, Some(a), Some(a), 2)), base)
    assert(after == base)
    assert(Lww.netChanges(base("customers"), after("customers")).isEmpty)
  }

  test("net changes name inserts, deletes and both update images") {
    val before = Map(1L -> a, 3L -> a)
    val after = Map(1L -> b, 2L -> a)
    assert(Lww.netChanges(before, after) == Seq(
      "update_preimage" -> a, "update_postimage" -> b, "insert" -> a, "delete" -> a))
  }

  test("the same seed gives byte-identical input files; another seed does not") {
    def files(seed: Long) = {
      val g = new CdcGen(seed, sizes, 0.01)
      CdcGen.kafkaLines(g.snapshot()) +: (1 to 5).map(_ => CdcGen.kafkaLines(g.nextBatch()))
    }
    assert(files(7) == files(7))
    assert(files(7).tail != files(8).tail)
  }

  test("batches carry every op, a tombstone after each delete, and replay to the generator's state") {
    val g = new CdcGen(3, sizes, 0.02)
    val events = g.snapshot() ++ (1 to 30).flatMap(_ => g.nextBatch())
    assert(Set("r", "c", "u", "d", "t").subsetOf(events.map(_.op).toSet))
    events.zip(events.tail).filter(_._1.op == "d").foreach { case (d, next) =>
      assert(next.op == "t" && next.key == d.key)
    }
    assert(events.exists(e => e.op == "u" && e.before == e.after), "no unchanged redelivery")
    assert(events.map(_.lsn) == events.map(_.lsn).sorted.distinct)
    val st = Lww.replay(events)
    CdcGen.tables.foreach(t => assert(st.getOrElse(t, Map.empty) == g.state(t).toMap, t))
    val batch = g.nextBatch()
    assert(batch.count(!_.tombstone) == CdcGen.tables.map(t => math.round(sizes.of(t) * 0.02).max(1)).sum)
  }

  test("Kafka lines parse back to the envelope fields") {
    val g = new CdcGen(1, sizes, 0.01)
    g.snapshot()
    val line = CdcGen.kafkaLines(g.nextBatch().take(1)).trim
    assert(line.startsWith("{\"key\":\"{\\\"id\\\":"))
    assert(line.contains("\"topic\":\"dbserver1.public.customers\""))
    assert(line.contains("\\\"op\\\":\\\""))
  }
}
