package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** ALTER TABLE SET/UNSET TBLPROPERTIES on foreign tables
  * ([[DeltaExport.setForeignProperties]]) — the adoption verb: a plain
  * (1,2)-protocol Delta table gains DV / CDF / ICT / append-only
  * capability through a graft-committed metaData (+ protocol) action,
  * then the ordinary verbs use it. Fixtures are exported graft tables
  * with the log retired — NO DV prehistory, so the protocol really is
  * the legacy form the upgrade must restate. */
class DeltaForeignPropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** The inCommitTimestamp recorded by commit `v`, if any. */
  private def ictOf(root: String, v: Long): Option[Long] = {
    val p = new Path(root, f"_delta_log/$v%020d.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filter(_.trim.nonEmpty)
      .map(l => org.json4s.jackson.JsonMethods.parse(l) \ "commitInfo" \
        "inCommitTimestamp")
      .collectFirst { case org.json4s.JInt(t) => t.toLong }
  }

  private def plainTable(name: String, n: Long = 40L): String = {
    val root = tmpDir(name)
    val t = GraftTable.create(spark, root,
      (0L until n).map(i => (i, i % 7, s"s$i")).toDF("k", "grp", "s"), Nil)
    DeltaExport.exportLog(t)
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(root, "_graft_log"), true)
    root
  }

  test("enabling DVs upgrades the protocol and the DV delete path opens") {
    val root = plainTable("fp-dv")
    val p0 = DeltaImport.snapshot(spark, root).protocol
    assert(!p0.exists(_.writerFeatures.contains("deletionVectors")))

    DeltaExport.setForeignProperties(spark, root,
      Map("delta.enableDeletionVectors" -> "true"))
    val snap = DeltaImport.snapshot(spark, root)
    val p = snap.protocol.get
    assert(p.minReaderVersion === 3 && p.minWriterVersion === 7)
    assert(p.readerFeatures.contains("deletionVectors"))
    assert(p.writerFeatures.contains("deletionVectors"))
    // the legacy protocol's implied features are RESTATED, not dropped
    assert(p.writerFeatures.contains("appendOnly") &&
      p.writerFeatures.contains("invariants"))

    // deletes now record as DVs — the data files stay put
    val filesBefore = snap.files.map(_.path).toSet
    val (_, deleted) = DeltaExport.deleteFromForeign(spark, root,
      col("k") % 4 === 0L)
    assert(deleted === 10L)
    val after = DeltaImport.snapshot(spark, root)
    assert(after.files.map(_.path).toSet === filesBefore,
      "a DV delete must not rewrite data files")
    assert(after.files.exists(_.deletionVector.exists(_.cardinality > 0)))
    assert(DeltaImport.read(spark, root).count() === 30L)
  }

  test("ADD CONSTRAINT validates current rows; violating constraint refused") {
    val root = plainTable("fp-constraint")
    val err = intercept[IllegalArgumentException] {
      DeltaExport.setForeignProperties(spark, root,
        Map("delta.constraints.smallk" -> "k < 10"))
    }
    assert(err.getMessage.contains("constraint smallk") &&
      err.getMessage.contains("30 row(s)"))
    assert(DeltaImport.latestVersion(spark, root) === 0L)

    DeltaExport.setForeignProperties(spark, root,
      Map("delta.constraints.nonneg" -> "k >= 0"))
    // the new constraint binds future writes
    val err2 = intercept[IllegalArgumentException] {
      DeltaExport.appendToForeign(spark, root,
        Seq((-1L, 0L, "bad")).toDF("k", "grp", "s"))
    }
    assert(err2.getMessage.contains("constraint nonneg"))
    // dropping it through unset re-opens the gate
    DeltaExport.setForeignProperties(spark, root, Map.empty,
      unset = Seq("delta.constraints.nonneg"))
    DeltaExport.appendToForeign(spark, root,
      Seq((-1L, 0L, "ok-now")).toDF("k", "grp", "s"))
    assert(DeltaImport.read(spark, root).count() === 41L)
  }

  test("enabling CDF makes subsequent deletes produce cdc rows") {
    val root = plainTable("fp-cdf")
    DeltaExport.setForeignProperties(spark, root, Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    val (v, _) = DeltaExport.deleteFromForeign(spark, root, col("k") === 5L)
    val changes = DeltaImport.readChanges(spark, root, v, v)
      .select(col("_change_type"), col("k")).as[(String, Long)].collect()
    assert(changes.toSet === Set(("delete", 5L)))
  }

  test("enabling ICT records enablement provenance; commits carry ICTs") {
    // Delta reads boolean properties case-insensitively (`toBoolean`)
    Seq("true", "TRUE").foreach { on =>
      val root = plainTable(s"fp-ict-$on")
      val v = DeltaExport.setForeignProperties(spark, root,
        Map("delta.enableInCommitTimestamps" -> on))
      val cfg = DeltaImport.snapshot(spark, root).configuration
      assert(cfg.get("delta.inCommitTimestampEnablementVersion")
        .contains(v.toString))
      assert(cfg.contains("delta.inCommitTimestampEnablementTimestamp"))
      // a subsequent append stamps a monotonic ICT; timestamp travel to
      // "now" resolves to the head (ICT-aware rule)
      DeltaExport.appendToForeign(spark, root,
        Seq((100L, 0L, "x")).toDF("k", "grp", "s"))
      val head = DeltaImport.latestVersion(spark, root)
      assert(ictOf(root, head).nonEmpty,
        s"enabled with '$on': the head commit carries no inCommitTimestamp")
      assert(DeltaImport.versionAsOfTimestamp(spark, root,
        System.currentTimeMillis() + 60000) === head)
    }
  }

  test("appendOnly set through properties blocks deletes; unknown keys refuse") {
    Seq("true", "TRUE").foreach { on =>
      val root = plainTable(s"fp-appendonly-$on")
      DeltaExport.setForeignProperties(spark, root,
        Map("delta.appendOnly" -> on))
      val err = intercept[IllegalArgumentException] {
        DeltaExport.deleteFromForeign(spark, root, col("k") === 1L)
      }
      assert(err.getMessage.contains("append-only"))

      val err2 = intercept[IllegalArgumentException] {
        DeltaExport.setForeignProperties(spark, root,
          Map("delta.enableRowTracking" -> "true"))
      }
      assert(err2.getMessage.contains("baseRowId backfill"))
      val err3 = intercept[IllegalArgumentException] {
        DeltaExport.setForeignProperties(spark, root,
          Map("delta.icebergCompatV2" -> "true"))
      }
      assert(err3.getMessage.contains("obligations"))
      // none→name is the supported metadata-only upgrade; every other
      // mapping transition (downgrade, id mode) refuses
      DeltaExport.setForeignProperties(spark, root,
        Map("delta.columnMapping.mode" -> "name"))
      val err4 = intercept[IllegalArgumentException] {
        DeltaExport.setForeignProperties(spark, root,
          Map("delta.columnMapping.mode" -> "none"))
      }
      assert(err4.getMessage.contains("not a metadata-only transition"))
      // non-delta user metadata passes through; idempotent re-set no-ops
      val v1 = DeltaExport.setForeignProperties(spark, root,
        Map("team.owner" -> "graft"))
      val v2 = DeltaExport.setForeignProperties(spark, root,
        Map("team.owner" -> "graft"))
      assert(v2 === v1, "identical re-set must be a version no-op")
      assert(DeltaImport.snapshot(spark, root).configuration
        .get("team.owner").contains("graft"))
    }
  }

  test("SHOW TBLPROPERTIES delta.`path` lists the live configuration") {
    val root = plainTable("fp-show")
    DeltaExport.setForeignProperties(spark, root,
      Map("team.owner" -> "graft"))
    val rows = spark.sql(s"SHOW TBLPROPERTIES delta.`$root`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.get("team.owner").contains("graft"))
    val one = spark.sql(
      s"SHOW TBLPROPERTIES delta.`$root` ('team.owner')").collect()
    assert(one.length === 1 && one.head.getString(1) === "graft")
  }

  test("columnMapping none→name upgrade then RENAME COLUMN, metadata-only") {
    val root = plainTable("fp-mapping")
    val filesBefore = DeltaImport.snapshot(spark, root).files
      .map(f => f.path -> f.modificationTime).toSet
    spark.sql(s"ALTER TABLE delta.`$root` SET TBLPROPERTIES (" +
      "'delta.columnMapping.mode' = 'name')").collect()
    val snap = DeltaImport.snapshot(spark, root)
    assert(snap.configuration.get("delta.columnMapping.mode")
      .contains("name"))
    assert(snap.configuration.contains("delta.columnMapping.maxColumnId"))
    val p = snap.protocol.get
    assert(p.minWriterVersion === 7 &&
      p.writerFeatures.contains("columnMapping"))
    assert(p.minReaderVersion >= 2)
    // every field annotated, physical = its pre-upgrade name, so the
    // existing parquet keeps reading
    assert(snap.schema.fields.forall(f =>
      f.metadata.getString("delta.columnMapping.physicalName") === f.name))
    assert(DeltaImport.read(spark, root).count() === 40L)

    spark.sql(s"ALTER TABLE delta.`$root` RENAME COLUMN k TO key").collect()
    val renamed = DeltaImport.read(spark, root)
    assert(renamed.columns.contains("key") && !renamed.columns.contains("k"))
    assert(renamed.count() === 40L)
    // metadata-only: not one data file touched across upgrade + rename
    assert(DeltaImport.snapshot(spark, root).files
      .map(f => f.path -> f.modificationTime).toSet === filesBefore)
    // the renamed column keeps its physical name (the old logical one)
    assert(DeltaImport.snapshot(spark, root).schema("key")
      .metadata.getString("delta.columnMapping.physicalName") === "k")
    // writes under the NEW logical name round-trip
    DeltaExport.appendToForeign(spark, root,
      Seq((1000L, 0L, "new")).toDF("key", "grp", "s"))
    assert(DeltaImport.read(spark, root)
      .filter(col("key") === 1000L).count() === 1L)
  }

  test("rename refusals: no mapping, referenced by constraint, collision") {
    val root = plainTable("fp-rename-refuse")
    val err = intercept[IllegalArgumentException] {
      DeltaExport.renameForeignColumn(spark, root, "k", "key")
    }
    assert(err.getMessage.contains("columnMapping.mode=name"))

    DeltaExport.setForeignProperties(spark, root, Map(
      "delta.columnMapping.mode" -> "name",
      "delta.constraints.kpos" -> "k >= 0"))
    val err2 = intercept[IllegalArgumentException] {
      DeltaExport.renameForeignColumn(spark, root, "k", "key")
    }
    assert(err2.getMessage.contains("constraint kpos"))
    val err3 = intercept[IllegalArgumentException] {
      DeltaExport.renameForeignColumn(spark, root, "grp", "s")
    }
    assert(err3.getMessage.contains("already exists"))
    // dropping the constraint unblocks the rename
    DeltaExport.setForeignProperties(spark, root, Map.empty,
      unset = Seq("delta.constraints.kpos"))
    DeltaExport.renameForeignColumn(spark, root, "k", "key")
    assert(DeltaImport.read(spark, root).columns.contains("key"))
  }
}
