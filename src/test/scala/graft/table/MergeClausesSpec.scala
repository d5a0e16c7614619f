package graft.table

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** General MERGE ([[GraftTable.mergeClauses]]) — Delta's full row-level
  * clause surface beyond the reference's canonical upsert
  * (spark_delta_handler.py:230-236 only ever uses matched-update +
  * not-matched-insert): ordered conditional clauses, explicit
  * assignments, matched DELETE, and NOT MATCHED BY SOURCE. */
class MergeClausesSpec extends SparkSpec {

  import MergeClause._

  private def fresh(tag: String): GraftTable = {
    import spark.implicits._
    val root = tmpDir(tag)
    GraftTable.create(spark, root,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "s", "v"))
  }

  test("CDC apply shape: matched-delete + matched-update-all + guarded insert") {
    import spark.implicits._
    val t = fresh("mc-cdc")
    // op: d = delete, u/c = upsert — the classic CDC batch applier
    val src = Seq(
      (2L, "B!", 200.0, "u"),   // matched update
      (3L, "x", 0.0, "d"),      // matched delete
      (7L, "g", 70.0, "c"),     // unmatched insert
      (8L, "h", 80.0, "d"))     // unmatched delete — claimed by NO clause, dropped
      .toDF("id", "s", "v", "op")
    val c = t.mergeClauses(src, "id",
      matched = Seq(
        Delete(Some(col("s.op") === "d")),
        UpdateAll()),
      notMatched = Seq(
        Insert(Map("id" -> col("s.id"), "s" -> col("s.s"), "v" -> col("s.v")),
          Some(col("s.op") =!= "d"))))
    assert(c.metrics("numTargetRowsUpdated") === 1L)
    assert(c.metrics("numTargetRowsDeleted") === 1L)
    assert(c.metrics("numTargetRowsInserted") === 1L)
    val byId = t.read().collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(byId === Map(
      1L -> ("a", 10.0), 2L -> ("B!", 200.0), 4L -> ("d", 40.0), 7L -> ("g", 70.0)))
    // UpdateAll is a star clause: the source-only `op` column joins the
    // schema additively (M6), null for rows no source touched
    assert(t.read().schema.fieldNames.contains("op"))
    // CDF: one delete, one insert, one update pair
    val ch = t.readChanges(t.version, t.version)
    val counts = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("delete" -> 1L, "insert" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("star evolution dedups source columns case-insensitively") {
    import spark.implicits._
    val t = fresh("mc-case")
    // Source spells the existing `v` column as `V` and brings one truly
    // new column. Case-insensitive resolution (Delta's default) must bind
    // V -> v — updating the existing field — and evolve ONLY `extra`;
    // a case-sensitive dedup would append a second near-duplicate column,
    // corrupting the snapshot schema.
    val src = Seq((2L, "B!", 999.0, "e2")).toDF("id", "s", "V", "extra")
    t.mergeClauses(src, "id",
      matched = Seq(UpdateAll()),
      notMatched = Seq(InsertAll()))
    val fields = t.read().schema.fieldNames.toSeq
    assert(fields.count(_.equalsIgnoreCase("v")) === 1,
      s"schema grew a duplicate case variant: $fields")
    assert(fields.contains("extra"))
    val r2 = t.read().filter(col("id") === 2).head()
    assert(r2.getAs[Double]("v") === 999.0)
    assert(r2.getAs[String]("extra") === "e2")
    // untouched rows keep their values; extra is null for them
    assert(t.read().filter(col("id") === 1).head().getAs[Double]("v") === 10.0)
  }

  test("clause order: first-true wins") {
    import spark.implicits._
    val t = fresh("mc-order")
    val src = Seq((1L, "z", 999.0)).toDF("id", "s", "v")
    // both clauses' conditions hold; the first (guarded) one must apply
    t.mergeClauses(src, "id",
      matched = Seq(
        Update(Map("v" -> lit(-1.0)), Some(col("t.id") === 1L)),
        UpdateAll()))
    val r1 = t.read().filter(col("id") === 1L).head()
    assert(r1.getDouble(2) === -1.0)
    assert(r1.getString(1) === "a") // explicit clause left `s` untouched
  }

  test("explicit assignments may mix both sides; unassigned columns keep target values") {
    import spark.implicits._
    val t = fresh("mc-expr")
    val src = Seq((2L, 5.0), (3L, 7.0)).toDF("id", "bump")
    t.mergeClauses(src, "id",
      matched = Seq(Update(Map("v" -> (col("t.v") + col("s.bump"))))))
    val byId = t.read().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(byId === Map(1L -> 10.0, 2L -> 25.0, 3L -> 37.0, 4L -> 40.0))
    // no star clause: `bump` must NOT join the schema
    assert(!t.read().schema.fieldNames.contains("bump"))
  }

  test("NOT MATCHED BY SOURCE: delete and update branches") {
    import spark.implicits._
    val t = fresh("mc-nmbs")
    val src = Seq((1L, "keep"), (2L, "keep")).toDF("id", "tag")
    // sync-to-source: rows absent from the source are flagged then dropped
    val c1 = t.mergeClauses(src, "id",
      notMatchedBySource = Seq(
        Update(Map("s" -> lit("stale")), Some(col("t.v") < 35.0)),
        Delete()))
    assert(c1.metrics("numTargetRowsUpdated") === 1L) // id=3 (v=30) flagged
    assert(c1.metrics("numTargetRowsDeleted") === 1L) // id=4 (v=40) dropped
    val byId = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId === Map(1L -> "a", 2L -> "b", 3L -> "stale"))
  }

  test("null source keys reach NOT MATCHED (vacuously unmatched), never match") {
    import spark.implicits._
    val t = fresh("mc-nullkey")
    val src = Seq((Some(2L), "B", 1.0), (None, "n", 2.0))
      .toDF("id", "s", "v")
    val c = t.mergeClauses(src, "id",
      matched = Seq(UpdateAll()),
      notMatched = Seq(InsertAll()))
    assert(c.metrics("numTargetRowsUpdated") === 1L)
    assert(c.metrics("numTargetRowsInserted") === 1L)
    // the null-key row inserted (Delta inserts it too); no target row lost
    assert(t.read().count() === 5)
    assert(t.read().filter(col("id").isNull).count() === 1)
  }

  test("multi-key ON with extra predicate (mergeClausesOn)") {
    import spark.implicits._
    val root = tmpDir("mc-multikey")
    val t = GraftTable.create(spark, root,
      Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0))
        .toDF("k1", "k2", "v"))
    val src = Seq((1L, "x", 100.0), (1L, "y", 200.0), (3L, "z", 300.0))
      .toDF("k1", "k2", "v")
    // compound key (k1,k2); the extra predicate only admits target rows
    // with v < 15, so (1,y) is key-matched yet unmatched and its source
    // row inserts
    val c = t.mergeClausesOn(src, Seq("k1", "k2"),
      onExtra = Some(col("t.v") < 15.0),
      matched = Seq(MergeClause.Update(Map("v" -> col("s.v")))),
      notMatched = Seq(MergeClause.InsertAll()))
    assert(c.metrics("numTargetRowsUpdated") === 1L) // (1,x)
    assert(c.metrics("numTargetRowsInserted") === 2L) // (1,y) source + (3,z)
    // 5 rows: (1,x)→100 updated, (2,x)→30 untouched, (3,z)→300 inserted,
    // and (1,y) TWICE — the kept target (20) plus the inserted source
    // (200), Delta's compound-ON branch semantics exactly
    assert(t.read().count() === 5)
    val oneY = t.read().filter(col("k1") === 1L && col("k2") === "y")
      .collect().map(_.getDouble(2)).sorted.toSeq
    assert(oneY === Seq(20.0, 200.0))
    val rest = t.read().filter(!(col("k1") === 1L && col("k2") === "y"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rest === Map((1L, "x") -> 100.0, (2L, "x") -> 30.0, (3L, "z") -> 300.0))
  }

  test("branch validation refuses misplaced clause kinds") {
    import spark.implicits._
    val t = fresh("mc-bad")
    val src = Seq((1L, "x", 0.0)).toDF("id", "s", "v")
    intercept[IllegalArgumentException] {
      t.mergeClauses(src, "id", matched = Seq(InsertAll()))
    }
    intercept[IllegalArgumentException] {
      t.mergeClauses(src, "id", notMatched = Seq(Delete()))
    }
    intercept[IllegalArgumentException] {
      t.mergeClauses(src, "id", notMatchedBySource = Seq(UpdateAll()))
    }
    intercept[IllegalArgumentException] {
      t.mergeClauses(src, "id", matched = Seq(Update(Map("nope" -> lit(1)))))
    }
  }

  test("partitioned table: general merge preserves layout and prunes reads") {
    import spark.implicits._
    val root = tmpDir("mc-part")
    val t = GraftTable.create(spark, root,
      Seq((1L, "us", 10.0), (2L, "eu", 20.0), (3L, "us", 30.0))
        .toDF("id", "region", "v"),
      partitionBy = Seq("region"))
    val src = Seq((1L, "us", 100.0), (9L, "ap", 90.0)).toDF("id", "region", "v")
    t.mergeClauses(src, "id",
      matched = Seq(MergeClause.UpdateAll()),
      notMatched = Seq(MergeClause.InsertAll()))
    // hive layout survives: the new snapshot still partitions by region
    // (including the INSERTED region) and partition-pruned reads work
    assert(t.read().count() === 4)
    val us = t.where(col("region") === "us").select("v")
      .collect().map(_.getDouble(0)).sorted
    assert(us.toSeq === Seq(30.0, 100.0))
    assert(t.where(col("region") === "ap").count() === 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
    val latest = dataDirs.map(_.getPath).maxBy(_.getName)
    assert(fs.listStatus(latest).map(_.getPath.getName).count(_.startsWith("region=")) === 3)
  }

  test("compound ON plans a keyed join, never a cartesian") {
    import spark.implicits._
    val root = tmpDir("mc-plan")
    val t = GraftTable.create(spark, root,
      (1L to 5000L).map(i => (i, s"s$i", i * 1.0)).toDF("id", "s", "v"))
    val src = (1L to 1000L).map(i => (i * 3, s"S$i", -1.0)).toDF("id", "s", "v")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      t.mergeClausesOn(src, Seq("id"), onExtra = Some(col("t.v") > col("s.v")),
        matched = Seq(MergeClause.UpdateAll()),
        notMatched = Seq(MergeClause.InsertAll()))
      // listener delivery is async — poll until the snapshot-write plan shows
      val deadline = System.nanoTime() + 30e9.toLong
      while (!plans.asScala.exists(_.contains("Join")) && System.nanoTime() < deadline)
        Thread.sleep(50)
      val joined = plans.asScala.filter(_.contains("Join")).toSeq
      assert(joined.nonEmpty, "no join plan captured")
      // the extra ON predicate must ride a keyed join as its residual,
      // never degrade the plan to a cartesian / nested-loop product
      joined.foreach { p =>
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"general merge planned a product join:\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("snapshot rewrite composes: time travel and history record the general merge") {
    import spark.implicits._
    val t = fresh("mc-tt")
    val src = Seq((1L, "z", 0.0, "d")).toDF("id", "s", "v", "op")
    t.mergeClauses(src, "id", matched = Seq(Delete(Some(col("s.op") === "d"))))
    assert(t.read().count() === 3)
    assert(t.readVersion(0).count() === 4)
    assert(t.history().head().getAs[String]("operation") === "MERGE")
  }

  test("identity columns: a MERGE's change feed carries the ids its rows got") {
    import spark.implicits._
    for (positional <- Seq(false, true)) {
      val t = GraftTable.create(spark, tmpDir(s"mc-ident-$positional"),
        Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Nil,
        generated = Map.empty, identity = Map("rid" -> (100L, 5L)))
      val src = Seq((2L, "B"), (3L, "c"), (4L, "d")).toDF("k", "s")
      val matched = Seq(UpdateAll())
      val notMatched = Seq(InsertAll())
      if (positional) t.mergeClausesPositional(src, Seq("k"), None, matched, notMatched)
      else t.mergeClausesOn(src, Seq("k"), None, matched, notMatched)
      val rows = t.read().select("k", "rid").as[(Long, Long)].collect().toMap
      val ch = t.readChanges(t.version, t.version)
      val fed = ch.filter(col("_change_type").isin("insert", "update_postimage"))
        .select("k", "rid").as[(Long, java.lang.Long)].collect().toMap
      assert(fed.keySet === Set(2L, 3L, 4L), s"positional=$positional")
      fed.foreach { case (k, rid) =>
        assert(rid === rows(k), s"positional=$positional key $k: feed id $rid, row id ${rows(k)}")
      }
      assert(rows.values.toSet.size === 4, s"duplicate ids: $rows")
      // UPDATE SET * keeps the engine-assigned id of the row it updates
      assert(ch.filter(col("_change_type") === "update_preimage")
        .select("rid").as[Long].head() === rows(2L))
    }
  }
}
