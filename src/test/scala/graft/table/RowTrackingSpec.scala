package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Row tracking (`graft.rowTracking=true`): stable unique row ids that
  * survive appends, positional deletes and OPTIMIZE/REORG rewrites —
  * fresh dirs derive ids from log metadata (zero append-time cost),
  * compaction materializes them into the hidden physical column.
  */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def rows(from: Long, n: Int) =
    (from until from + n).map(i => (i, s"v$i")).toDF("k", "s")

  /** value-key → row id, the mapping that must never move. */
  private def idsOf(t: GraftTable): Map[Long, Long] =
    t.readWithRowIds().select(col("k"), col("_graft_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("derived ids are unique and stable across appends") {
    val root = tmpDir("rowtrack-append")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 10),
      Map("graft.rowTracking" -> "true"))
    t.append(rows(10, 10))
    val before = idsOf(t)
    assert(before.size === 20)
    assert(before.values.toSet.size === 20, "ids must be unique")
    t.append(rows(20, 10))
    val after = idsOf(t)
    assert(after.size === 30)
    assert(after.values.toSet.size === 30)
    before.foreach { case (k, id) =>
      assert(after(k) === id, s"id of row $k moved across an append")
    }
  }

  test("ids survive OPTIMIZE (materialized through the rewrite)") {
    val root = tmpDir("rowtrack-opt")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 50),
      Map("graft.rowTracking" -> "true"))
    t.append(rows(50, 50)); t.append(rows(100, 50))
    val before = idsOf(t)
    t.optimize()
    val after = idsOf(t)
    assert(after === before, "OPTIMIZE must not move any row id")
    // the hidden column stays hidden: a plain read has no id column
    assert(!t.read().columns.contains("_graft_row_id"))
    // and a later append still hands out fresh, non-colliding ids
    t.append(rows(150, 25))
    val grown = idsOf(t)
    assert(grown.size === 175)
    assert(grown.values.toSet.size === 175)
    before.foreach { case (k, id) => assert(grown(k) === id) }
  }

  test("ids survive a positional delete; survivors keep theirs") {
    val root = tmpDir("rowtrack-dv")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 40),
      Map("graft.rowTracking" -> "true"))
    t.append(rows(40, 40))
    val before = idsOf(t)
    t.deletePositional(col("k") % 3 === 0)
    val after = idsOf(t)
    assert(after.keySet === before.keySet.filterNot(_ % 3 == 0))
    after.foreach { case (k, id) => assert(before(k) === id) }
    // delete then compact: the materialization preserves the survivors
    t.optimize()
    assert(idsOf(t) === after)
  }

  test("a second optimize over already-materialized ids is still stable") {
    val root = tmpDir("rowtrack-opt2")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 30),
      Map("graft.rowTracking" -> "true"))
    t.optimize()
    val once = idsOf(t)
    t.append(rows(30, 30))
    t.optimize() // mixes materialized + derived rows into one rewrite
    val twice = idsOf(t)
    assert(twice.size === 60)
    assert(twice.values.toSet.size === 60)
    once.foreach { case (k, id) => assert(twice(k) === id) }
  }

  test("ids survive compactSmall (the auto-compaction path materializes)") {
    val root = tmpDir("rowtrack-compact")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 10),
      Map("graft.rowTracking" -> "true"))
    (1 to 4).foreach(i => t.append(rows(i * 10L, 10)))
    val before = idsOf(t)
    assert(before.size === 50)
    val c = t.compactSmall(smallDirBytes = Long.MaxValue / 2)
    assert(c.isDefined, "five small dirs must fold")
    val after = idsOf(t)
    assert(after === before, "compactSmall moved row ids")
    // and a post-compaction append still derives fresh unique ids
    t.append(rows(50, 10))
    val grown = idsOf(t)
    assert(grown.size === 60 && grown.values.toSet.size === 60)
    before.foreach { case (k, id) => assert(grown(k) === id) }
  }

  test("ids survive materializeDeletes") {
    val root = tmpDir("rowtrack-purge")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 50),
      Map("graft.rowTracking" -> "true"))
    t.append(rows(50, 49))
    t.deletePositional(col("k") % 2 === 0)
    val survivors = idsOf(t)
    assert(survivors.size === 49)
    val c = t.materializeDeletes()
    assert(c.dvDirs.isEmpty)
    assert(idsOf(t) === survivors, "the DV purge moved row ids")
  }

  test("ids derive under a stats-column budget (the row count is kept)") {
    // The budget trims per-column stats only: the footer row count every
    // dir records is what derived ids are allocated from.
    val root = tmpDir("rowtrack-budget")
    val t = GraftTable.createWithProperties(spark, root, rows(0, 10),
      Map("graft.rowTracking" -> "true", "delta.dataSkippingNumIndexedCols" -> "1"))
    t.append(rows(10, 10))
    val ids = idsOf(t)
    assert(ids.size === 20)
    assert(ids.values.toSet.size === 20, "ids must be unique")
    assert(t.rowCount === 20L)
  }

  test("readWithRowIds refuses an untracked table") {
    val root = tmpDir("rowtrack-off")
    val t = GraftTable.create(spark, root, rows(0, 5))
    val e = intercept[IllegalArgumentException](t.readWithRowIds())
    assert(e.getMessage.contains("graft.rowTracking"))
  }
}
