package graft

import graft.analytics.DeltaBridgeQueries

/** Driver-contract smoke: `entry` yields rows and every declared query runs
  * at sf0.001 — catches a broken queries-map entry before the external
  * gate does. The queries that read the reference checkout's frozen Delta
  * tables run in their own case, only where those tables exist. Oracle
  * equivalence is checked by tools/check_oracle.py. */
class SparkEntrySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Run each query's `count()`; one line per failure, by name. A failure
    * never stops the loop, whatever its message. */
  private def failures(qs: Map[String, SparkEntry.Q]): Seq[String] =
    qs.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, dir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.toString.take(200)}") }
    }

  private val (referenceQueries, localQueries) =
    SparkEntry.queries.partition { case (name, _) =>
      SparkEntry.referenceFixtureQueries(name) }

  test("entry (flagship customer_order_summary) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("reference-fixture queries are declared and their oracles read the reference root") {
    val ref = SparkEntry.referenceFixtureQueries
    assert(ref.nonEmpty)
    val undeclared = ref -- SparkEntry.queries.keySet
    assert(undeclared.isEmpty, s"not in queries: $undeclared")
    val oracles = SparkEntry.oracleSql
    val elsewhere = ref.filterNot(n =>
      oracles.get(n).exists(_.contains(DeltaBridgeQueries.ReferenceRoot)))
    assert(elsewhere.isEmpty,
      s"oracle does not read ${DeltaBridgeQueries.ReferenceRoot}: $elsewhere")
  }

  test("a failing query is listed by name even when its message is null") {
    val qs = Map[String, SparkEntry.Q](
      "a_null_message" -> ((_, _) => throw new NullPointerException()),
      "b_runs"         -> ((s, _) => s.range(1).toDF()),
      "c_message"      -> ((_, _) => throw new IllegalStateException("boom")))
    val f = failures(qs)
    assert(f.size === 2, f.mkString("\n"))
    assert(f.head.startsWith("a_null_message: java.lang.NullPointerException"))
    assert(f(1) === "c_message: java.lang.IllegalStateException: boom")
  }

  test("every declared query executes at sf0.001") {
    val f = failures(localQueries)
    assert(f.isEmpty, f.mkString("\n"))
  }

  test("every reference-fixture query executes at sf0.001") {
    assume(new java.io.File(DeltaBridgeQueries.ReferenceRoot).isDirectory)
    val f = failures(referenceQueries)
    assert(f.isEmpty, f.mkString("\n"))
  }
}
