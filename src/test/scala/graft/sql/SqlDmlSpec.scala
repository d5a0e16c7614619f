package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** Delta's SQL DML and utility statements on graft relations, through SQL
  * ONLY — served by the injected
  * [[org.apache.spark.sql.graftnative.GraftSqlParser]]: `DELETE FROM`,
  * `UPDATE`, `MERGE INTO` (the canonical shapes), `OPTIMIZE`, `VACUUM`,
  * `DESCRIBE HISTORY`, `DESCRIBE DETAIL`, `RESTORE TABLE`,
  * `CREATE TABLE … CLONE`, `CONVERT TO GRAFT`, `GENERATE
  * symlink_format_manifest`, and the `table_changes` TVF. The reference
  * performs the same
  * mutations through Python Delta APIs (spark_delta_handler.py:160-289);
  * these are the user-facing SQL spellings of those calls. */
class SqlDmlSpec extends SparkSpec {

  private lazy val s2 = spark

  private def freshTable(tag: String, viewName: String): (GraftTable, String) = {
    import s2.implicits._
    val root = tmpDir(tag)
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "s", "v").write.format("graft").save(root)
    s2.sql(s"CREATE OR REPLACE TEMPORARY VIEW $viewName USING graft OPTIONS (path '$root')")
    (GraftTable.forPath(s2, root), root)
  }

  test("DELETE FROM … WHERE, including qualified and no-WHERE forms") {
    import s2.implicits._
    val (t, _) = freshTable("sqldel", "del_t")
    val res = s2.sql("DELETE FROM del_t WHERE del_t.v > 25.0")
    assert(res.head().getLong(0) === 2) // num_affected_rows
    assert(t.read().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the registered view serves the POST-delete head (execution-pinned
    // scan, not relation-creation-pinned): no stale reads after DML
    assert(s2.sql("SELECT count(*) FROM del_t").head().getLong(0) === 2)
    // CDF recorded the SQL delete like the API delete (q13's contract)
    val ch = t.readChanges(1, t.version).filter(col("_change_type") === "delete")
    assert(ch.count() === 2)
    // no WHERE deletes everything, as a logged commit
    s2.sql("DELETE FROM del_t")
    assert(t.read().count() === 0)
    assert(t.readVersion(1).count() === 2) // time travel still serves v1
  }

  test("UPDATE … SET … WHERE with alias-qualified references") {
    val (t, _) = freshTable("sqlupd", "upd_t")
    val res = s2.sql(
      "UPDATE upd_t SET v = upd_t.v * 2, s = concat(s, '!') WHERE upd_t.id <= 2")
    assert(res.head().getLong(0) === 2)
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(_.getDouble(2)).toSeq === Seq(20.0, 40.0, 30.0, 40.0))
    assert(rows.map(_.getString(1)).toSeq === Seq("a!", "b!", "c", "d"))
  }

  test("DELETE and UPDATE accept IN-subquery conditions") {
    import s2.implicits._
    val (t, _) = freshTable("sqlsubq", "subq_t")
    Seq(1L, 3L).toDF("kid").createOrReplaceTempView("subq_keys")
    val res = s2.sql(
      "DELETE FROM subq_t WHERE id IN (SELECT kid FROM subq_keys)")
    assert(res.head().getLong(0) === 2)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq === Seq(2L, 4L))
    val upd = s2.sql(
      "UPDATE subq_t SET v = 0.0 WHERE id NOT IN (SELECT kid FROM subq_keys)")
    assert(upd.head().getLong(0) === 2)
    assert(t.read().agg(sum("v")).head().getDouble(0) === 0.0)
  }

  test("spark.graft.sql.mergeOnRead routes DELETE/UPDATE through the no-rewrite path") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmor", "mor_t")
    s2.conf.set("spark.graft.sql.mergeOnRead", "true")
    try {
      val del = s2.sql("DELETE FROM mor_t WHERE id = 4")
      assert(del.head().getLong(0) === 1)
      val upd = s2.sql("UPDATE mor_t SET v = 0.0 WHERE id = 1")
      assert(upd.head().getLong(0) === 1)
      // reads see the post-DML state …
      assert(s2.sql("SELECT count(*) FROM mor_t").head().getLong(0) === 3)
      assert(s2.sql("SELECT v FROM mor_t WHERE id = 1").head().getDouble(0) === 0.0)
      // … but NO snapshot rewrite happened: merge-on-read state present
      val hist = t.history().collect().map(_.getAs[String]("operation"))
      assert(hist.take(2).toSeq === Seq("UPDATE", "DELETE"))
      val d = t.detail().head()
      assert(d.getAs[Int]("numTombstoneDirs") + d.getAs[Int]("numDvDirs") > 0)
      // OPTIMIZE materializes the subtraction and clears it
      s2.sql("OPTIMIZE mor_t").collect()
      val d2 = t.detail().head()
      assert(d2.getAs[Int]("numTombstoneDirs") + d2.getAs[Int]("numDvDirs") === 0)
      assert(t.read().count() === 3)
    } finally s2.conf.unset("spark.graft.sql.mergeOnRead")
  }

  test("spark.graft.sql.mergeOnRead DELETE/UPDATE refuse on an append-only table") {
    val (t, _) = freshTable("sqlmorao", "morao_t")
    t.setProperties(Map("delta.appendOnly" -> "true"))
    s2.conf.set("spark.graft.sql.mergeOnRead", "true")
    try {
      val before = t.version
      Seq("DELETE FROM morao_t WHERE id = 4",
          "UPDATE morao_t SET v = 0.0 WHERE id = 1").foreach { stmt =>
        val e = intercept[Exception](s2.sql(stmt).collect())
        assert(e.getMessage.contains("append-only"), s"$stmt: ${e.getMessage}")
      }
      assert(t.version === before)
      assert(t.read().count() === 4)
    } finally s2.conf.unset("spark.graft.sql.mergeOnRead")
  }

  test("UPDATE rejects a SET target that is not a column") {
    val (_, _) = freshTable("sqlupdbad", "updbad_t")
    val e = intercept[Exception] {
      s2.sql("UPDATE updbad_t SET nope = 1").collect()
    }
    assert(e.getMessage.contains("not a column"))
  }

  test("MERGE INTO upsert shape (UPDATE SET * + INSERT *)") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg", "mrg_t")
    Seq((2L, "B", 200.0), (9L, "i", 90.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("mrg_src")
    val res = s2.sql(
      """MERGE INTO mrg_t t USING mrg_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(res.getLong(0) === 2) // affected = updated + inserted
    assert(res.getLong(1) === 1 && res.getLong(3) === 1)
    val byId = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId === Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d", 9L -> "i"))
  }

  test("SQL MERGE upsert is Delta-faithful: unchanged matched rows count as updates, null-key sources insert") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg7", "mrg7_t")
    // Source row 1 is byte-identical to the target row (no change), and one
    // source row has a NULL key. Delta updates EVERY matched row (no change
    // detection through SQL) and routes null-key rows to NOT MATCHED
    // (vacuously unmatched → insert). The tuned API merge() differs on both
    // (change detection + null-key drop) — SQL must not take that path.
    Seq((Option(1L), "a", 10.0), (Option.empty[Long], "n", 0.0))
      .toDF("id", "s", "v").createOrReplaceTempView("mrg7_src")
    val res = s2.sql(
      """MERGE INTO mrg7_t t USING mrg7_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(res.getLong(1) === 1, "identical matched row still counts as updated")
    assert(res.getLong(3) === 1, "null-key source row inserts")
    assert(t.read().count() === 5)
    assert(t.read().filter(col("id").isNull).count() === 1)
  }

  test("MERGE INTO insert-only and delete-matched shapes") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg2", "mrg2_t")
    Seq((3L, "X", 0.0), (7L, "g", 70.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("mrg2_src")
    // insert-only: id=3 exists and must NOT be updated
    val ins = s2.sql(
      """MERGE INTO mrg2_t t USING mrg2_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(ins.getLong(3) === 1)
    val byId = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(3L) === "c" && byId(7L) === "g")
    // delete-matched: drop every key present in the source
    val del = s2.sql(
      """MERGE INTO mrg2_t t USING mrg2_src s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin).head()
    assert(del.getLong(2) === 2)
    assert(t.read().select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L))
  }

  test("MERGE source can be an arbitrary query, and unsupported shapes fail clearly") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg3", "mrg3_t")
    Seq((1L, "z", 1.0), (1L, "z", 1.0), (8L, "h", 80.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("mrg3_src")
    // subquery source (dedup'd) through the same path
    s2.sql(
      """MERGE INTO mrg3_t t
        |USING (SELECT DISTINCT * FROM mrg3_src) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    assert(t.read().count() === 5)
    // an ON with NO same-name equi key is refused (the join rewrite must
    // never plan a cartesian); the message names the requirement
    val e2 = intercept[UnsupportedOperationException] {
      s2.sql(
        """MERGE INTO mrg3_t t USING mrg3_src s ON t.v > s.v
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(e2.getMessage.contains("at least one"))
  }

  test("compound ON: extra predicate routes rows to Delta's branch semantics") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg7", "mrg7_t")
    // source key-matches ids 1-3; the ON predicate only admits v < 25,
    // so id=3 (v=30) is key-matched yet UNMATCHED: its target row reaches
    // NOT MATCHED BY SOURCE, its source row reaches NOT MATCHED
    Seq((1L, "A"), (2L, "B"), (3L, "C"), (9L, "I")).toDF("id", "s")
      .createOrReplaceTempView("mrg7_src")
    val res = s2.sql(
      """MERGE INTO mrg7_t t USING mrg7_src s
        |ON t.id = s.id AND t.v < 25.0
        |WHEN MATCHED THEN UPDATE SET s = s.s
        |WHEN NOT MATCHED THEN INSERT (id, s, v) VALUES (s.id, s.s, -1.0)
        |WHEN NOT MATCHED BY SOURCE AND t.id = 3 THEN DELETE
        |""".stripMargin).head()
    assert(res.getLong(1) === 2) // ids 1,2 updated
    assert(res.getLong(2) === 1) // id 3 deleted via NMBS
    assert(res.getLong(3) === 2) // id 3's source row + id 9 inserted
    val byId = t.read().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(byId === Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", -1.0),
      (4L, "d", 40.0), (9L, "I", -1.0)))
  }

  test("OPTIMIZE, with WHERE and ZORDER BY variants") {
    import s2.implicits._
    val (t, _) = freshTable("sqlopt", "opt_t")
    t.append(Seq((5L, "e", 50.0)).toDF("id", "s", "v"))
    t.append(Seq((6L, "f", 60.0)).toDF("id", "s", "v"))
    val before = t.read().orderBy("id").collect().toSeq
    s2.sql("OPTIMIZE opt_t").collect()
    assert(t.read().orderBy("id").collect().toSeq === before)
    s2.sql("OPTIMIZE opt_t ZORDER BY (id, v)").collect()
    assert(t.read().orderBy("id").collect().toSeq === before)
    s2.sql("OPTIMIZE opt_t WHERE id >= 4").collect()
    assert(t.read().orderBy("id").collect().toSeq === before)
  }

  test("DESCRIBE HISTORY, VACUUM RETAIN, RESTORE TABLE TO VERSION AS OF") {
    val (t, root) = freshTable("sqlhist", "hist_t")
    s2.sql("DELETE FROM hist_t WHERE id = 1")
    val hist = s2.sql("DESCRIBE HISTORY hist_t").collect()
    assert(hist.length === 2) // WRITE + DELETE, newest first
    assert(hist.head.getAs[String]("operation") === "DELETE")
    val detail = s2.sql("DESCRIBE DETAIL hist_t").collect()
    assert(detail.length === 1)
    assert(detail.head.getAs[String]("format") === "graft")
    // restore back to v0 via SQL; the restored state is the full table
    s2.sql("RESTORE TABLE hist_t TO VERSION AS OF 0").collect()
    assert(t.read().count() === 4)
    // TIMESTAMP AS OF resolves on the history clock: restoring to v0's
    // commit instant lands on v0's state (another full-table commit)
    val ts0 = new java.sql.Timestamp(
      t.history().orderBy("version").head().getAs[java.sql.Timestamp]("timestamp").getTime)
    s2.sql(s"RESTORE TABLE hist_t TO TIMESTAMP AS OF '$ts0'").collect()
    assert(t.read().count() === 4)
    // DRY RUN reports without deleting; the real vacuum then removes
    val wouldRemove = s2.sql("VACUUM hist_t RETAIN 0.0 HOURS DRY RUN").head().getLong(0)
    val removed = s2.sql("VACUUM hist_t RETAIN 0.0 HOURS").head().getLong(0)
    assert(removed === wouldRemove && removed >= 0)
    assert(t.read().count() === 4) // live state untouched
    assert(GraftTable.forPath(s2, root).read().count() === 4)
    // FULL adds the untracked-debris listing pass (the crashed-writer
    // leftover no commit references); LITE spells the log-driven default
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s2.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, "data/v00099-crashed")
    t.read().write.parquet(orphan.toString)
    s2.sql("VACUUM hist_t LITE RETAIN 0.0 HOURS").collect()
    assert(fs.exists(orphan))
    // a fresh orphan survives the recency rule; age it out artificially
    fs.setTimes(orphan, 1000L, 1000L)
    fs.listStatus(orphan).foreach(st => fs.setTimes(st.getPath, 1000L, 1000L))
    val fullRemoved = s2.sql("VACUUM hist_t FULL RETAIN 0.0 HOURS").head().getLong(0)
    assert(fullRemoved >= 1)
    assert(!fs.exists(orphan))
    assert(t.read().count() === 4)
  }

  test("table_changes TVF serves the change feed through SQL") {
    import s2.implicits._
    val (t, _) = freshTable("sqlcdf", "cdf_t")
    s2.sql("DELETE FROM cdf_t WHERE id = 2")
    val ch = s2.sql(
      "SELECT id, _change_type, _commit_version FROM table_changes('cdf_t', 1) ORDER BY id")
      .collect()
    assert(ch.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((2L, "delete", 1L)))
    // range form: [1,1] same; an APPEND commit serves synthesized inserts
    // (the initial WRITE is pre-CDF, as in Delta)
    assert(s2.sql("SELECT count(*) FROM table_changes('cdf_t', 1, 1)").head().getLong(0) === 1)
    t.append(Seq((9L, "i", 90.0)).toDF("id", "s", "v"))
    assert(s2.sql(
      "SELECT count(*) FROM table_changes('cdf_t', 2) WHERE _change_type = 'insert'")
      .head().getLong(0) === 1)
    // composes with joins/aggregates around it
    assert(s2.sql(
      """SELECT max(c.id) FROM table_changes('cdf_t', 1) c
        |JOIN (SELECT 2 AS k) j ON c.id = j.k""".stripMargin).head().getLong(0) === 2)
    // non-graft name keeps stock behavior (unknown TVF error)
    intercept[Exception] {
      s2.sql("SELECT * FROM table_changes('no_such_graft_table', 0)").collect()
    }
    // bad argument shape fails with the graft message
    val e = intercept[IllegalArgumentException] {
      s2.sql("SELECT * FROM table_changes('cdf_t', 'not_a_version')")
    }
    // since timestamp bounds became legal, the refusal names both forms
    assert(e.getMessage.contains("integer version or a timestamp"))
    assert(t.read().count() === 4)
  }

  test("general MERGE: conditional DELETE + UPDATE SET * + guarded INSERT (CDC apply)") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg5", "mrg5_t")
    Seq((2L, "B", 200.0, "u"), (3L, "x", 0.0, "d"), (7L, "g", 70.0, "c"),
      (8L, "h", 80.0, "d")).toDF("id", "s", "v", "op")
      .createOrReplaceTempView("mrg5_src")
    val res = s2.sql(
      """MERGE INTO mrg5_t t USING mrg5_src s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT (id, s, v) VALUES (s.id, s.s, s.v)
        |""".stripMargin).head()
    assert(res.getLong(1) === 1) // updated: id=2
    assert(res.getLong(2) === 1) // deleted: id=3
    assert(res.getLong(3) === 1) // inserted: id=7; id=8 claimed by no clause
    val byId = t.read().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId === Map(1L -> "a", 2L -> "B", 4L -> "d", 7L -> "g"))
  }

  test("general MERGE: explicit SET mixing both sides; NOT MATCHED BY SOURCE") {
    import s2.implicits._
    val (t, _) = freshTable("sqlmrg6", "mrg6_t")
    Seq((1L, 5.0), (2L, 7.0)).toDF("id", "bump")
      .createOrReplaceTempView("mrg6_src")
    // matched rows bump v; rows absent from the source are deleted
    val res = s2.sql(
      """MERGE INTO mrg6_t t USING mrg6_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.bump
        |WHEN NOT MATCHED BY SOURCE THEN DELETE
        |""".stripMargin).head()
    assert(res.getLong(1) === 2 && res.getLong(2) === 2)
    val rows = t.read().orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows.map(_.getDouble(2)).toSeq === Seq(15.0, 27.0))
    // no star clause: `bump` did not join the schema
    assert(!t.read().schema.fieldNames.contains("bump"))
    // CDF carries the pre/post pairs and the deletes
    val counts = s2.sql("SELECT _change_type, count(*) c FROM table_changes('mrg6_t', " +
      s"${t.version}, ${t.version}) GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("delete" -> 2L,
      "update_preimage" -> 2L, "update_postimage" -> 2L))
  }

  test("CREATE TABLE … SHALLOW/DEEP CLONE registers a working catalog table") {
    val (t, _) = freshTable("sqlclone", "clone_t")
    s2.sql("DELETE FROM clone_t WHERE id = 4")
    val shallowLoc = tmpDir("clone-shallow") + "/tbl"
    s2.sql("DROP TABLE IF EXISTS clone_s")
    s2.sql(s"CREATE TABLE clone_s SHALLOW CLONE clone_t LOCATION '$shallowLoc'")
    val deepLoc = tmpDir("clone-deep") + "/tbl"
    s2.sql("DROP TABLE IF EXISTS clone_d")
    // deep clone pinned to v0 — pre-delete state
    s2.sql(s"CREATE TABLE clone_d CLONE clone_t VERSION AS OF 0 LOCATION '$deepLoc'")
    try {
      assert(s2.sql("SELECT count(*) FROM clone_s").head().getLong(0) === 3)
      assert(s2.sql("SELECT count(*) FROM clone_d").head().getLong(0) === 4)
      // the cloned name takes DML without touching the source
      s2.sql("DELETE FROM clone_d WHERE id = 1")
      assert(s2.sql("SELECT count(*) FROM clone_d").head().getLong(0) === 3)
      assert(t.read().count() === 3)
    } finally {
      s2.sql("DROP TABLE IF EXISTS clone_s")
      s2.sql("DROP TABLE IF EXISTS clone_d")
    }
  }

  test("CREATE OR REPLACE TABLE … CLONE actually replaces a prior clone at the same location") {
    val (t, _) = freshTable("sqlclone2", "clone2_t")
    val loc = tmpDir("clone2-loc") + "/tbl"
    s2.sql("DROP TABLE IF EXISTS clone2_r")
    s2.sql(s"CREATE TABLE clone2_r SHALLOW CLONE clone2_t LOCATION '$loc'")
    try {
      assert(s2.sql("SELECT count(*) FROM clone2_r").head().getLong(0) === 4)
      // the source moves on; OR REPLACE at the SAME location must clear the
      // stale clone's files (not die on "table already exists") and serve
      // the new snapshot
      s2.sql("DELETE FROM clone2_t WHERE id IN (3, 4)")
      s2.sql(s"CREATE OR REPLACE TABLE clone2_r SHALLOW CLONE clone2_t LOCATION '$loc'")
      assert(s2.sql("SELECT count(*) FROM clone2_r").head().getLong(0) === 2)
      // replacing with a DEEP clone over the shallow one also works
      s2.sql(s"CREATE OR REPLACE TABLE clone2_r DEEP CLONE clone2_t LOCATION '$loc'")
      assert(s2.sql("SELECT count(*) FROM clone2_r").head().getLong(0) === 2)
      assert(t.read().count() === 2) // source untouched by the replaces
    } finally s2.sql("DROP TABLE IF EXISTS clone2_r")
  }

  test("CONVERT TO GRAFT adopts loose parquet; GENERATE writes the manifest") {
    import s2.implicits._
    // loose parquet dir (no _graft_log) — the conversion source
    val raw = tmpDir("sqlconvert")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(raw)
    val v = s2.sql(s"CONVERT TO GRAFT parquet.`$raw`").head().getLong(0)
    assert(v === 0)
    val t = GraftTable.forPath(s2, raw)
    assert(t.read().count() === 3)
    // and the converted table takes DML + manifest generation through SQL
    s2.sql(s"CREATE OR REPLACE TEMPORARY VIEW conv_t USING graft OPTIONS (path '$raw')")
    s2.sql("DELETE FROM conv_t WHERE id = 3")
    assert(s2.sql("SELECT count(*) FROM conv_t").head().getLong(0) === 2)
    val manifest = s2.sql("GENERATE symlink_format_manifest FOR TABLE conv_t")
      .head().getString(0)
    assert(new java.io.File(new java.net.URI(
      if (manifest.startsWith("file:")) manifest else s"file:$manifest")).exists
      || new java.io.File(manifest).exists)
  }

  test("non-graft tables keep stock DML behavior") {
    import s2.implicits._
    Seq((1L, "x")).toDF("id", "s").createOrReplaceTempView("plain_dml")
    // stock Spark refuses DELETE on a non-v2 relation — error preserved
    intercept[Exception] {
      s2.sql("DELETE FROM plain_dml WHERE id = 1").collect()
    }
    // and OPTIMIZE on a non-graft name is still a stock parse error
    intercept[Exception] {
      s2.sql("OPTIMIZE plain_dml").collect()
    }
  }
}
