package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.table.GraftTable

/** Oracle-checkable phrasings of the mutation surface (SURVEY §2.10): each
  * query materializes a [[GraftTable]] in a fresh temp dir from the testdata
  * `orders` table, applies a deterministic mutation sequence, and returns a
  * final state that plain ANSI SQL over the original parquet reproduces —
  * so the driver's DuckDB gate checks MERGE / DELETE / time travel / CDF /
  * history byte-for-byte, the mechanized version of the reference's
  * notebook verification cells (deltalake-query.ipynb cells 11-26, 38, 53).
  */
object MutationQueries {

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag-").toString

  // The fixture tables are deterministic functions of (sf dir, recipe), and
  // GraftTable versions are immutable — so queries sharing a recipe
  // (q10/q13/q14 on the merged table, q11/q16 on the deleted table) reuse
  // one materialization per JVM instead of rebuilding it per query.
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), GraftTable]()

  private def cached(dir: String, tag: String)(build: => GraftTable): GraftTable =
    fixtureCache.computeIfAbsent((dir, tag), _ => build)

  /** Base: half of orders (even keys) with a poisoned o_totalprice, so a
    * subsequent merge of the full table updates every matched row and
    * inserts every odd key. */
  private def mergedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "merged") {
      val orders = Tables.orders(spark, dir)
      val base = orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", lit(-1.0))
      val t = GraftTable.create(spark, freshDir("merge"), base)
      t.merge(orders, "o_orderkey")
      t
    }

  /** Orders table with `o_orderstatus = 'F'` rows deleted at v1. */
  private def deletedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "deleted") {
      val t = GraftTable.create(spark, freshDir("delete"), Tables.orders(spark, dir))
      t.delete(col("o_orderstatus") === "F")
      t
    }

  /** MERGE upsert (M1/M2): update-all + insert-all on o_orderkey; final
    * snapshot must equal the source table exactly. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame =
    mergedOrdersTable(spark, dir).read()

  /** DELETE by predicate (M3): left-anti rewrite. */
  def deleteWhere(spark: SparkSession, dir: String): DataFrame =
    deletedOrdersTable(spark, dir).read()

  /** Orders table with the 'F' rows deleted MERGE-ON-READ (deletion
    * vectors, no data rewrite) plus a post-delete append the vectors must
    * not touch — shared by q83 and q88. */
  private def dvDeletedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "dv-deleted") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("dv"), orders)
      t.deletePositional(col("o_orderstatus") === "F")
      // appended after the delete: 'F' rows that MUST survive (positions
      // recorded against the pre-append files only)
      t.append(orders.filter(col("o_orderstatus") === "F")
        .filter(pmod(col("o_orderkey"), lit(100)) === 0))
      t
    }

  /** Merge-on-read DELETE read path (Delta DV parity,
    * delta_handler.py:215-225's delete semantics without the rewrite):
    * deleted rows are recorded as (file, row_index) pairs and the read
    * subtracts them with an in-scan per-file position filter — NO join in
    * the plan (asserted by DeletionVectorSpec). The snapshot equals
    * predicate-delete output UNION the rows appended after the delete. */
  def dvDeleteWhere(spark: SparkSession, dir: String): DataFrame =
    dvDeletedOrdersTable(spark, dir).read()

  private def dvUpdatedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "dv-updated") {
      val t = GraftTable.create(spark, freshDir("dvu"), Tables.orders(spark, dir))
      // IEEE double multiply — bit-identical in DuckDB's CASE oracle
      t.updatePositional(col("o_orderstatus") === "P",
        Map("o_totalprice" -> (col("o_totalprice") * 1.1)))
      t
    }

  /** Positional-DV UPDATE read path: matched rows position-marked deleted
    * and their updated copies appended IN ONE COMMIT — the snapshot shows
    * every row exactly once with the assignment applied, and the read
    * plan stays join-free (DeletionVectorSpec). */
  def dvUpdateWhere(spark: SparkSession, dir: String): DataFrame =
    dvUpdatedOrdersTable(spark, dir).read()

  private def dvPurgedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "dv-purged") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("dvp"), orders)
      t.deletePositional(col("o_orderstatus") === "F")
      // REORG/PURGE: the subtraction is materialized into rewritten dirs
      // and the DVs dropped BEFORE the post-delete append
      t.materializeDeletes()
      t.append(orders.filter(col("o_orderstatus") === "F")
        .filter(pmod(col("o_orderkey"), lit(100)) === 0))
      t
    }

  /** The purge lifecycle end-to-end: positional delete → materializeDeletes
    * (only touched dirs rewritten, DVs cleared) → append — the snapshot
    * must equal the same oracle as the un-purged q88, proving the rewrite
    * preserved every surviving row exactly. */
  def dvPurgeRead(spark: SparkSession, dir: String): DataFrame =
    dvPurgedOrdersTable(spark, dir).read()

  private def bloomOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "bloom-orders") {
      val orders = Tables.orders(spark, dir)
      // four key-interleaved appends: every dir spans ~the same key range,
      // so only the bloom (not min/max stats) can prune the lookup
      val t = GraftTable.create(spark, freshDir("bl"),
        orders.filter(pmod(col("o_orderkey"), lit(4)) === 0))
      (1 to 3).foreach(k =>
        t.append(orders.filter(pmod(col("o_orderkey"), lit(4)) === k)))
      t.buildBloomIndex("o_orderkey")
      t
    }

  /** Bloom-indexed point lookup (the needle query of a 100 TB key-value
    * read path): [[graft.table.GraftTable.where]] prunes to the dirs whose
    * sidecar admits the key, the exact predicate refines the superset.
    * Held to the plain SELECT … WHERE key = k oracle. */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    bloomOrdersTable(spark, dir).where(col("o_orderkey") === 8L)

  private def priorityOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "prio-orders") {
      val orders = Tables.orders(spark, dir)
      // one append per priority namespace → disjoint string ranges per dir
      val t = GraftTable.create(spark, freshDir("pr"),
        orders.filter(col("o_orderpriority").startsWith("1")))
      Seq("2", "3", "4", "5").foreach(p =>
        t.append(orders.filter(col("o_orderpriority").startsWith(p))))
      t
    }

  /** STRING-range data skipping: footer string min/max (order-preserving
    * prefix encoding in the dir-stats map) restrict the scan to the dirs
    * whose priority namespace intersects the queried range
    * ([[graft.table.GraftTable.where]]); the exact predicate refines the
    * superset. */
  def priorityRange(spark: SparkSession, dir: String): DataFrame =
    priorityOrdersTable(spark, dir).where(col("o_orderpriority").between("2", "4"))

  /** Predicate-driven scan ([[graft.table.GraftTable.where]]): the caller
    * writes ONE filter expression; the table extracts the pruning plan
    * itself — here a disjunction of key needles over the bloom-indexed
    * interleaved table (range stats can't skip any dir), each admitted by
    * its sidecar, union of survivors scanned, exact predicate on top. */
  def predicateSkip(spark: SparkSession, dir: String): DataFrame =
    bloomOrdersTable(spark, dir)
      .where(col("o_orderkey") === 8L || col("o_orderkey") === 1L)

  private def evolvedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "evolved-orders") {
      val orders = Tables.orders(spark, dir)
      // segment 1 written BEFORE o_orderpriority existed; segment 2 brings
      // it in (additive schema evolution) — segment 1 is all-null for it
      val t = GraftTable.create(spark, freshDir("ev"),
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
          .drop("o_orderpriority"))
      t.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1))
      t
    }

  /** Null-count skipping over schema evolution: `WHERE o_orderpriority IS
    * NOT NULL` prunes the pre-evolution segment from the scan entirely
    * (the column isn't in its files — provably all-null after alignment),
    * the exact predicate refines the rest. At corpus scale this is "new
    * metadata column only in recent partitions" — the query never lists
    * the years of history that predate it. */
  def nullSkip(spark: SparkSession, dir: String): DataFrame =
    evolvedOrdersTable(spark, dir).where(col("o_orderpriority").isNotNull)

  /** Transparent SQL skipping: the view registered by
    * [[graft.table.GraftTable.view]] routes a plain `spark.sql` needle
    * query through the same bloom-sidecar pruning q91 exercises
    * programmatically — the `GraftScanSkipping` optimizer rule swaps the
    * scan's file listing, the user just writes SQL. */
  def sqlSkip(spark: SparkSession, dir: String): DataFrame = {
    bloomOrdersTable(spark, dir).view("graft_orders_kv")
    spark.sql("SELECT * FROM graft_orders_kv WHERE o_orderkey = 8")
  }

  /** Metadata-only aggregate (Delta's OptimizeMetadataOnlyDeltaQuery
    * analogue): plain-SQL COUNT(*) / COUNT(col) over a registered view is
    * answered from the commit's row/null bookkeeping — the optimized plan
    * is a one-row LocalRelation, ZERO data files read (plan-asserted in
    * SqlSkippingSpec). `count(o_orderpriority)` crosses the
    * schema-evolution boundary: the pre-evolution segment contributes 0
    * by the all-null absence inference, the rest from footer null counts.
    * At 100 TB this is the difference between a catalog lookup and a
    * full-corpus scan for the most common query there is. */
  def metadataCountSql(spark: SparkSession, dir: String): DataFrame = {
    evolvedOrdersTable(spark, dir).view("graft_orders_evolved")
    spark.sql(
      """SELECT count(*) AS cnt, count(o_orderpriority) AS cnt_pri,
        |       count(o_custkey) AS cnt_cust
        |FROM graft_orders_evolved""".stripMargin)
  }

  /** Metadata-only MIN/MAX (+ count) — the extremes of an int64 key and a
    * timestamp column answered from exact footer-stat bookkeeping, zero
    * files read (plan-asserted in SqlSkippingSpec). Inexact encodings
    * (decimal/string/float) and merge-on-read state bail to a scan, so
    * the rewrite is always safe. */
  def metadataMinMaxSql(spark: SparkSession, dir: String): DataFrame = {
    evolvedOrdersTable(spark, dir).view("graft_orders_evolved")
    spark.sql(
      """SELECT count(*) AS cnt,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
        |FROM graft_orders_evolved""".stripMargin)
  }

  private def droppedColTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "dropcol-orders") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("dc"),
        orders.filter(col("o_orderkey") % 2 === 0))
      t.append(orders.filter(col("o_orderkey") % 2 === 1))
      // metadata-only DDL: the column disappears from the head schema
      // without rewriting a file; v0/v1 still serve it via time travel
      t.dropColumn("o_orderpriority")
      t
    }

  /** Metadata-only DROP COLUMN end-to-end: the head read equals the
    * full table minus the dropped column — zero files rewritten. */
  def dropColumnRead(spark: SparkSession, dir: String): DataFrame =
    droppedColTable(spark, dir).read()

  /** Orders table with a CREATE-declared generated column
    * `o_year = year(o_orderdate)` (GENERATED ALWAYS AS): created from the
    * even keys and appended the odd keys, BOTH writes omitting the column
    * — the engine materializes it, and a follow-up merge that rewrites
    * every even row must recompute (not carry) the derived value. */
  private def generatedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "generated") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("gencol"),
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        Nil, Map("o_year" -> "year(o_orderdate)"), Map.empty)
      t.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1))
      t
    }

  /** Generated-column end-to-end: the snapshot equals plain SQL
    * `year(o_orderdate)` over the source — writers never computed it. */
  def generatedColumnRead(spark: SparkSession, dir: String): DataFrame =
    generatedOrdersTable(spark, dir).read()

  /** Orders table with a CREATE-declared IDENTITY column (start 1, step 1)
    * assigned by the engine across a create + an append, none provided by
    * the writer. Ids are unique and ascending but NOT gap-free (per-task
    * block reservation), so the oracle-checkable projection is the
    * uniqueness invariant itself. */
  private def identityOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "identity") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("ident"),
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0),
        Nil, Map.empty, Map("o_rid" -> (1L, 1L)))
      t.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1))
      t
    }

  /** Identity-column invariants as a deterministic summary: every row got
    * an id, all ids distinct, none below the declared start. */
  def identityColumnSummary(spark: SparkSession, dir: String): DataFrame =
    identityOrdersTable(spark, dir).read().agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_rid")).as("n_ids"),
      sum(when(col("o_rid") >= 1L, lit(0L)).otherwise(lit(1L))).as("below_start"),
      sum(when(col("o_rid").isNull, lit(1L)).otherwise(lit(0L))).as("null_ids"))

  /** GENERATE symlink_format_manifest end-to-end AS AN EXTERNAL ENGINE
    * SEES IT: build a multi-commit table, publish the manifest, then read
    * ONLY the listed paths as plain parquet (no commit-log knowledge) —
    * the result must equal the source rows exactly. */
  def manifestExternalRead(spark: SparkSession, dir: String): DataFrame = {
    val t = cached(dir, "manifest") {
      val orders = Tables.orders(spark, dir)
      val g = GraftTable.create(spark, freshDir("manifest"),
        orders.filter(pmod(col("o_orderkey"), lit(2)) === 0))
      g.append(orders.filter(pmod(col("o_orderkey"), lit(2)) === 1))
      g.generateManifest()
      g
    }
    val manifest = new org.apache.hadoop.fs.Path(
      t.root, "_symlink_format_manifest/manifest").toString
    val paths = spark.read.textFile(manifest).collect().toSeq.filter(_.nonEmpty)
    spark.read.parquet(paths: _*)
  }

  /** RENAME COLUMN end-to-end: o_orderpriority → o_priority as one
    * explicit rewrite; the head serves the new name with the old values. */
  def renameColumnRead(spark: SparkSession, dir: String): DataFrame =
    cached(dir, "renamed") {
      val t = GraftTable.create(spark, freshDir("rename"), Tables.orders(spark, dir))
      t.renameColumn("o_orderpriority", "o_priority")
      t
    }.read()

  /** REORG + re-add cycle: metadata-only DROP leaves the bytes and
    * retires the name; REORG physically purges them, which lifts the
    * retirement — the SAME name is then re-added and reads all-null. */
  def reorgReaddRead(spark: SparkSession, dir: String): DataFrame =
    cached(dir, "reorg") {
      val t = GraftTable.create(spark, freshDir("reorg"), Tables.orders(spark, dir))
      t.dropColumn("o_orderpriority")
      t.reorg()
      t.addColumn("o_orderpriority", org.apache.spark.sql.types.StringType)
      t
    }.read()

  private def optimizeWhereTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "optwhere-orders") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("ow"),
        orders.filter(col("o_orderkey") < 20000))
      t.append(orders.filter(col("o_orderkey").between(20000, 39999)))
      t.append(orders.filter(col("o_orderkey") >= 40000))
      // selective maintenance (OPTIMIZE … WHERE): only the low-key dir is
      // rewritten; the other two stay byte-identical with stats intact
      t.optimizeWhere(col("o_orderkey") < 20000)
      t
    }

  /** The OPTIMIZE-WHERE lifecycle end-to-end: the compacted snapshot must
    * still equal the plain full-table oracle — selective rewrite loses and
    * invents nothing. */
  def optimizeWhereRead(spark: SparkSession, dir: String): DataFrame =
    optimizeWhereTable(spark, dir).read()

  private def replaceWhereTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "replwhere-orders") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("rw"),
        orders.filter(col("o_orderkey") < 20000))
      t.append(orders.filter(col("o_orderkey").between(20000, 39999)))
      t.append(orders.filter(col("o_orderkey") >= 40000))
      // The backfill: re-deliver the middle key range with corrected
      // prices and a flagged status. Only the middle dir is rewritten;
      // the low/high dirs survive byte-identical with their stats.
      t.replaceWhere(
        orders.filter(col("o_orderkey").between(20000, 39999))
          .withColumn("o_orderstatus", lit("R"))
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        col("o_orderkey").between(20000, 39999))
      t
    }

  /** The replaceWhere lifecycle end-to-end: selective overwrite must equal
    * the per-row CASE rewrite of the full table — rows outside the
    * predicate untouched, rows inside carrying the replacement images. */
  def replaceWhereRead(spark: SparkSession, dir: String): DataFrame =
    replaceWhereTable(spark, dir).read()

  private def convertedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "converted-orders") {
      // lay down the legacy layout — a plain parquet directory — then
      // upgrade it IN PLACE: the bytes written here are the bytes the
      // table serves (rename, not copy)
      val src = freshDir("cv") + "/legacy"
      Tables.orders(spark, dir).repartition(4).write.parquet(src)
      GraftTable.convert(spark, src)
    }

  /** CONVERT TO GRAFT end-to-end: the in-place-upgraded table must serve
    * exactly the legacy directory's rows. */
  def convertRead(spark: SparkSession, dir: String): DataFrame =
    convertedOrdersTable(spark, dir).read()

  /** Orders table destroyed at v1 (everything deleted) — read v0 back. */
  private def wipedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "wiped") {
      val t = GraftTable.create(spark, freshDir("tt"), Tables.orders(spark, dir))
      t.delete(col("o_totalprice") >= 0.0) // wipes essentially everything
      t
    }

  /** Orders table wrecked twice (v1 delete, v2 junk append) then
    * RESTORE'd to v0 at v3 — the head must serve the original rows
    * again, metadata-only (restore re-publishes v0's dir list; no data
    * is copied, so at 100 TB a bad deploy rolls back in one commit). */
  private def restoredOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "restored") {
      val orders = Tables.orders(spark, dir)
      val t = GraftTable.create(spark, freshDir("restore"), orders)
      t.delete(col("o_orderstatus") === "F")                      // v1
      t.append(orders.limit(50).withColumn("o_totalprice",
        col("o_totalprice") + 1e6))                               // v2 junk
      t.restore(0)                                                // v3
      t
    }

  /** RESTORE (M12): the head read after restore(0) equals the original
    * table — both the delete and the junk append are rolled back. */
  def restoreRead(spark: SparkSession, dir: String): DataFrame =
    restoredOrdersTable(spark, dir).read()

  /** Time travel BY TIMESTAMP (S5): resolve v0's adjusted commit
    * timestamp off history(), then read "as of" it — after a later
    * destructive commit, the timestamp read must serve v0 exactly
    * (history timestamps round-trip through readAsOf by contract). */
  def timeTravelByTimestamp(spark: SparkSession, dir: String): DataFrame = {
    val t = wipedOrdersTable(spark, dir)
    val ts0 = t.history().filter(col("version") === 0L)
      .select("timestamp").head().getTimestamp(0).getTime
    t.readAsOf(ts0)
  }

  /** Time travel (S4): read v0 after a destructive later commit. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame =
    wipedOrdersTable(spark, dir).readVersion(0)

  /** Change Data Feed (S6/M8): the change rows of the mergeUpsert commit —
    * insert per odd key, update pre/post images per even key. */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedOrdersTable(spark, dir)
    t.readChanges(1).drop("_commit_timestamp")
  }

  /** History (S7): version / operation / numOutputRows, as
    * `DeltaTable.history()` exposes via operationMetrics. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedOrdersTable(spark, dir)
    t.history().select(
      col("version"),
      col("operation"),
      col("operationMetrics")("numOutputRows").as("num_rows"))
  }

  /** Batch CDC compaction (SURVEY §2.5): latest event per user via
    * row_number — the idiomatic Spark equivalent of the reference's
    * MERGE-maintained snapshot state. */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Version diff via anti-join (SURVEY J7/U3, notebook cell 53): keys
    * deleted between v0 and the head after a DELETE commit. */
  def versionDiff(spark: SparkSession, dir: String): DataFrame = {
    val t = deletedOrdersTable(spark, dir)
    t.readVersion(0).select("o_orderkey")
      .join(t.read().select("o_orderkey"), Seq("o_orderkey"), "left_anti")
  }

  /** Orders hive-partitioned by o_orderstatus, loaded as four KEY-RANGE
    * appends so every data dir carries a disjoint o_orderkey interval in
    * its [[graft.table.Commit.dirStats]] — the layout where both pruning
    * layers bite: partition dirs prune on the status filter, dir stats
    * skip appends outside the key range. */
  private def partitionedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "partitioned") {
      val orders = Tables.orders(spark, dir)
      val q = quarterKey(spark, dir)
      val t = GraftTable.create(spark, freshDir("part"),
        orders.filter(col("o_orderkey") <= q),
        partitionBy = Seq("o_orderstatus"))
      t.append(orders.filter(col("o_orderkey") > q && col("o_orderkey") <= 2 * q))
      t.append(orders.filter(col("o_orderkey") > 2 * q && col("o_orderkey") <= 3 * q))
      t.append(orders.filter(col("o_orderkey") > 3 * q))
      t
    }

  // Scalar fixture thresholds, memoized like the tables themselves: these
  // are one-row driver actions, but inside a query body they'd book a
  // fixture job into every timed bench run of the pruned READ path.
  private val scalarCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
  private def cachedScalar(dir: String, tag: String)(compute: => Long): Long =
    scalarCache.computeIfAbsent((dir, tag), _ => compute)

  private def quarterKey(spark: SparkSession, dir: String): Long =
    cachedScalar(dir, "quarterKey") {
      Tables.orders(spark, dir).agg(max("o_orderkey")).head().getLong(0) / 4
    }

  private def halfCustKey(spark: SparkSession, dir: String): Long =
    cachedScalar(dir, "halfCustKey") {
      Tables.orders(spark, dir).agg(max("o_custkey")).head().getLong(0) / 2
    }

  /** Partition pruning + dir-stats data skipping (SURVEY §4, ROADMAP):
    * key-range predicate served by [[GraftTable.where]]'s dir-stats
    * skipping (scans 1 of 4 append dirs), status predicate served by
    * hive-partition pruning inside the dirs; the exact filter on top keeps
    * the result exact. */
  def partitionPrune(spark: SparkSession, dir: String): DataFrame = {
    val t = partitionedOrdersTable(spark, dir)
    val q = quarterKey(spark, dir)
    t.where(col("o_orderkey") <= q && col("o_orderstatus") === "F")
  }

  /** Orders rewritten by OPTIMIZE … ZORDER BY (o_custkey, o_totalprice):
    * the Morton-curve layout makes parquet stats selective on both columns
    * at once (file-level pruning pinned in ZOrderSpec); the query itself
    * predicates on both dimensions and is plain-SQL checkable. */
  private def zorderedOrdersTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "zordered") {
      val t = GraftTable.create(spark, freshDir("zorder"), Tables.orders(spark, dir))
      t.optimize(targetFileBytes = 256 * 1024, zorderBy = Seq("o_custkey", "o_totalprice"))
      t
    }

  def zorderScan(spark: SparkSession, dir: String): DataFrame = {
    val t = zorderedOrdersTable(spark, dir)
    val half = halfCustKey(spark, dir)
    t.read().filter(col("o_custkey") <= half && col("o_totalprice") < 50000.0)
  }

  /** SCD Type 2 dimension maintenance ([[graft.pipeline.Scd2]]): the
    * customer dimension is loaded at t0, then one deterministic CDC batch
    * applies at t1 — updates (acctbal bump on key%5=0, segment overwrite on
    * key%7=0, which is a NO-OP when the segment already matches: no
    * spurious version may open), inserts (key%11=0 re-keyed +1e6), and
    * tombstones (key%13=0, disjoint from the update keys). The final
    * history table — closed + open versions — is what the oracle
    * reconstructs in plain SQL. */
  def scd2Snapshot(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Scd2
    val c = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val k = col("c_custkey")
    val dim0 = Scd2.init(c, to_timestamp(lit("1995-01-01 00:00:00")))
    val upd = c.filter(k % 5 === 0 || k % 7 === 0)
      .select(k.as("c_custkey"), col("c_name"),
        when(k % 5 === 0, col("c_acctbal") + 100.0).otherwise(col("c_acctbal"))
          .as("c_acctbal"),
        when(k % 7 === 0, lit("MACHINERY")).otherwise(col("c_mktsegment"))
          .as("c_mktsegment"))
      .withColumn("is_del", lit(false))
    val ins = c.filter(k % 11 === 0)
      .select((k + 1000000L).as("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"))
      .withColumn("is_del", lit(false))
    val del = c.filter(k % 13 === 0 && k % 5 =!= 0 && k % 7 =!= 0)
      .withColumn("is_del", lit(true))
    val batch = upd.unionByName(ins).unionByName(del)
    Scd2(dim0, batch, "c_custkey",
        to_timestamp(lit("1996-01-01 00:00:00")), deleteCol = Some("is_del"))
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"),
        col(Scd2.ValidFrom).as("valid_from"), col(Scd2.ValidTo).as("valid_to"),
        col(Scd2.IsCurrent).as("is_current"))
  }

  /** The `format("graft")` connector under the driver gate: the merged
    * orders fixture read back through `spark.read.format("graft")` with
    * `versionAsOf` pinned to the merge commit — the standard-packaging
    * read path ([[org.apache.spark.sql.graftnative.GraftDataSource]])
    * must serve exactly what the library read serves (q10's oracle). */
  def connectorRead(spark: SparkSession, dir: String): DataFrame = {
    val t = mergedOrdersTable(spark, dir)
    spark.read.format("graft")
      .option("versionAsOf", t.version.toString).load(t.root)
  }

  /** Write `df`'s rows as ONE json-lines file named `name` inside `dir` —
    * how a CDC batch lands in the file-source inbox (the staging-dir
    * indirection because `df.write.json` produces a directory). */
  private def writeJsonBatch(df: DataFrame, dir: String, name: String): Unit = {
    val staging = freshDir("jsonbatch")
    df.coalesce(1).write.mode("overwrite").json(staging)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(staging))
      .toArray.map(_.toString).find(_.endsWith(".json"))
      .getOrElse(throw new IllegalStateException(s"no json part in $staging"))
    java.nio.file.Files.move(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(dir, name))
    (): Unit
  }

  /** The STREAMING SCD2 dimension, built end-to-end by
    * [[graft.pipeline.CdcPipeline.startScd2Stream]] from two deterministic
    * Debezium-envelope batches derived from `customer`: batch 1 snapshots
    * every customer at t1; batch 2 (a checkpointed stream RESUME) updates
    * the email of key%5=0 and tombstones key%13=0 (disjoint) at t2. Built
    * once per JVM (the mutation-fixture pattern: stream construction lands
    * outside the bench's timed region; the query measures the dimension
    * read). */
  private def scd2StreamTable(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "scd2stream") {
      import graft.pipeline.CdcPipeline
      val t1 = 1700000000000L
      val t2 = 1700000100000L
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey").as("id"), col("c_name"), col("c_mktsegment"))

      def afterJson(email: org.apache.spark.sql.Column, us: Long) = concat(
        lit("{\"id\":"), col("id"),
        lit(",\"first_name\":\""), col("c_name"),
        lit("\",\"last_name\":\""), col("c_mktsegment"),
        lit("\",\"email\":\""), email,
        lit("\",\"phone\":\"555\",\"created_at\":" + (t1 * 1000) +
          ",\"updated_at\":" + us + "}"))

      def record(op: String, tsMs: Long, lsnOff: Long,
          after: org.apache.spark.sql.Column, before: org.apache.spark.sql.Column) =
        Seq(
          concat(lit("{\"id\":"), col("id"), lit("}")).as("key"),
          concat(
            lit("{\"payload\":{\"before\":"), before,
            lit(",\"after\":"), after,
            lit(",\"source\":{\"ts_ms\":" + tsMs + ",\"db\":\"sourcedb\"," +
              "\"schema\":\"public\",\"table\":\"customers\",\"txId\":"),
            col("id") + lsnOff, lit(",\"lsn\":"), col("id") + lsnOff,
            lit("},\"op\":\"" + op + "\",\"ts_ms\":" + tsMs + "}}")).as("value"),
          lit("cdc.public.customers").as("topic"),
          lit(0).as("partition"),
          (col("id") + lsnOff).as("offset"),
          lit(new java.sql.Timestamp(tsMs)).as("timestamp"))

      val emailV1 = concat(col("c_name"), lit("@x.com"))
      val in = freshDir("scd2s-in")
      val cfg = CdcPipeline.Config(
        inputDir = in,
        tableRoot = freshDir("scd2s-tables"),
        checkpointRoot = freshDir("scd2s-ckpt"),
        availableNow = true,
        tables = Seq("customers"))

      writeJsonBatch(c.select(record("r", t1, 0L,
        afterJson(emailV1, t1 * 1000), lit("null")): _*), in, "b1.json")
      CdcPipeline.startScd2Stream(spark, cfg).awaitTermination()

      val upd = c.filter(col("id") % 5 === 0).select(record("u", t2, 1000000L,
        afterJson(concat(col("c_name"), lit("@new.com")), t2 * 1000),
        afterJson(emailV1, t1 * 1000)): _*)
      val del = c.filter(col("id") % 13 === 0 && col("id") % 5 =!= 0)
        .select(record("d", t2, 1000000L, lit("null"),
          afterJson(emailV1, t1 * 1000)): _*)
      writeJsonBatch(upd.unionByName(del), in, "b2.json")
      CdcPipeline.startScd2Stream(spark, cfg).awaitTermination()

      GraftTable.forPath(spark, CdcPipeline.scd2Path(cfg, "customers"))
    }

  /** q129: the streaming SCD2 path under the driver gate — the history
    * table [[scd2StreamTable]]'s stream produced, projected to the
    * oracle-reconstructable columns (validity stamps as epoch-millis: the
    * envelope ts_ms values are exact there). */
  def scd2Stream(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Scd2
    scd2StreamTable(spark, dir).read()
      .select(col("id"), col("first_name"), col("email"),
        unix_millis(col(Scd2.ValidFrom)).as("valid_from_ms"),
        unix_millis(col(Scd2.ValidTo)).as("valid_to_ms"),
        col(Scd2.IsCurrent).as("is_current"))
  }

  /** Point-in-time enrichment — the query SCD2 history EXISTS for: each
    * order joined to the customer-dimension VERSION that was valid on its
    * order date ([[scd2Snapshot]]'s history ∘ [[graft.operators.AsOfJoin]]).
    * The as-of join picks the latest version opened at or before the order
    * date in ONE key-partitioned window pass (no |fact|×|versions| blowup),
    * and the validity-end filter drops orders falling after a tombstone or
    * before the initial load — inner PIT semantics, byte-reproducible by a
    * plain inequality join in the oracle. */
  def pitEnrichment(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val dim = scd2Snapshot(spark, dir)
      .select("c_custkey", "valid_from", "acctbal", "mktsegment", "valid_to")
    val facts = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    AsOfJoin.leftAsOf(facts, dim,
        "o_custkey", "c_custkey", "o_orderdate", "valid_from")
      .filter(col("valid_from").isNotNull &&
        (col("valid_to").isNull || col("o_orderdate") < col("valid_to")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("acctbal"), col("mktsegment"),
        col("valid_from"))
  }

  // Row-tracked documents table: two appends, a positional delete, the
  // PRE-OPTIMIZE id snapshot persisted to scratch parquet (distributed —
  // never collected), then an OPTIMIZE that must not move a single id.
  private val rowTrackCache =
    new java.util.concurrent.ConcurrentHashMap[String, (GraftTable, String)]()

  private def rowTrackedDocs(spark: SparkSession, dir: String): (GraftTable, String) =
    rowTrackCache.computeIfAbsent(dir, { _ =>
      val docs = Tables.documents(spark, dir)
        .select("doc_id", "lang", "source", "n_chars")
      val t = GraftTable.createWithProperties(spark, freshDir("rowtrack"),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        Map("graft.rowTracking" -> "true"))
      t.append(docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      t.deletePositional(pmod(col("doc_id"), lit(97)) === 0)
      val prePath = freshDir("rowtrack-pre") + "/pre"
      t.readWithRowIds()
        .select(col("doc_id"), col("_graft_row_id").as("pre_id"))
        .write.parquet(prePath)
      t.optimize()
      (t, prePath)
    })

  /** q159: row tracking (Delta `rowTracking` analogue) driver-checked —
    * the stable-id contract asserted END TO END: after appends + a DV
    * delete + an OPTIMIZE rewrite, every surviving document's row id must
    * equal its pre-optimize id (`stable`), ids must stay unique
    * (`distinct_ids`), and the row set must be exactly the delete's
    * survivors (`docs`). The oracle states the contract: all three counts
    * equal the survivor count — any id that moves, collides or vanishes
    * breaks a column. The check itself is one distributed join of two
    * id snapshots; nothing corpus-sized touches the driver. */
  def rowTrackingStability(spark: SparkSession, dir: String): DataFrame = {
    val (t, prePath) = rowTrackedDocs(spark, dir)
    val pre = spark.read.parquet(prePath)
    val post = t.readWithRowIds()
      .select(col("doc_id"), col("_graft_row_id").as("post_id"))
    post.join(pre, Seq("doc_id"), "full")
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("pre_id") === col("post_id"), 1L).otherwise(0L)).as("stable"),
        countDistinct(col("post_id")).as("distinct_ids"))
  }

  /** q189: CDC cascade delete — the GDPR/right-to-erasure propagation
    * shape: customers are erased from the parent table, the CHANGE FEED
    * of that commit (not a re-diff of snapshots) names exactly the
    * erased keys, and the child table consumes the feed as a MERGE
    * source with a WHEN MATCHED DELETE clause. At 100 TB this is the
    * only shape that works: the erased-key set flows table-to-table as
    * a DataFrame through one merge shuffle — never a collected id list
    * on the driver, never a full parent-vs-child re-join. Returns the
    * surviving orders. */
  private def cascadeTables(spark: SparkSession, dir: String): GraftTable =
    cached(dir, "cascade") {
      val parent = GraftTable.create(spark, freshDir("cascp"),
        Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
      val child = GraftTable.create(spark, freshDir("cascc"),
        Tables.orders(spark, dir))
      val erasure = parent.delete(pmod(col("c_custkey"), lit(13)) === 0)
      val erased = parent.readChanges(erasure.version, erasure.version)
        .filter(col("_change_type") === "delete")
        .select(col("c_custkey").as("o_custkey"))
      child.mergeClauses(erased, "o_custkey",
        matched = Seq(graft.table.MergeClause.Delete()))
      child
    }

  def cascadeDelete(spark: SparkSession, dir: String): DataFrame =
    cascadeTables(spark, dir).read()
}
