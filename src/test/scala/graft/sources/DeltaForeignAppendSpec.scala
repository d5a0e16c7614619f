package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.json4s.jackson.JsonMethods

import graft.SparkSpec
import graft.table.{GraftTable, MergeClause}

/** Foreign-table appends ([[DeltaExport.appendToForeign]]) — graft as a
  * Delta WRITER: new rows commit into a table no graft log governs, via
  * the same optimistic exclusive-publish protocol delta-spark uses.
  * Fixtures are Delta tables the export bridge wrote, with the graft log
  * retired so the appender sees exactly a foreign table. */
class DeltaForeignAppendSpec extends SparkSpec {
  import spark.implicits._

  private def retire(root: String): Unit = {
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root, "_graft_log"), true)
  }

  test("append commits v+1 with adds + stats; readers see the union") {
    val root = tmpDir("fap-flat")
    val t = GraftTable.create(spark, root,
      (0L until 40L).map(i => (i, s"s$i", i * 2.0)).toDF("k", "s", "v"), Nil)
    t.append((40L until 60L).map(i => (i, s"s$i", i * 2.0)).toDF("k", "s", "v"))
    DeltaExport.exportLog(t)
    retire(root)
    val before = DeltaImport.latestVersion(spark, root)

    val v = DeltaExport.appendToForeign(spark, root,
      (60L until 80L).map(i => (i, s"s$i", i * 2.0)).toDF("k", "s", "v"))
    assert(v === before + 1)
    assert(DeltaImport.latestVersion(spark, root) === v)
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 80L)
    assert(read.filter(col("k") >= 60L).count() === 20L)
    // per-add stats rode from the staged footers (skipping prunes on k)
    val pruned = DeltaImport.where(spark, root, col("k") === 70L)
    assert(pruned.count() === 1L)
    // a second append stacks
    val v2 = DeltaExport.appendToForeign(spark, root,
      Seq((80L, "s80", 160.0)).toDF("k", "s", "v"))
    assert(v2 === v + 1)
    assert(DeltaImport.read(spark, root).count() === 81L)
  }

  test("partitioned append: partition values recover, files under part dirs") {
    val root = tmpDir("fap-part")
    val t = GraftTable.create(spark, root,
      (0L until 40L).map(i => (i, s"s$i", i % 4)).toDF("k", "s", "p"),
      partitionBy = Seq("p"))
    DeltaExport.exportLog(t)
    retire(root)
    DeltaExport.appendToForeign(spark, root,
      (40L until 52L).map(i => (i, s"s$i", i % 4)).toDF("k", "s", "p"))
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 52L)
    assert(read.filter(col("p") === 2L).count() === 13L)
    // the appended adds carry partitionValues (file-level pruning works)
    val snap = DeltaImport.snapshot(spark, root)
    val appended = snap.files.filter(_.path.startsWith("_appends"))
    assert(appended.nonEmpty)
    assert(appended.forall(_.partitionValues.keySet === Set("p")))
  }

  test("column-mapped append lands under physical names") {
    val root = tmpDir("fap-mapped")
    val t = GraftTable.create(spark, root,
      (0L until 30L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.renameColumnMetadataOnly("s", "label")
    DeltaExport.exportLog(t)
    retire(root)
    DeltaExport.appendToForeign(spark, root,
      Seq((30L, "s30"), (31L, "s31")).toDF("k", "label"))
    val read = DeltaImport.read(spark, root)
    assert(read.columns.toSeq === Seq("k", "label"))
    assert(read.count() === 32L)
    assert(read.filter(col("label") === "s31").count() === 1L)
  }

  test("CHECK constraint and NOT NULL violations refuse before committing") {
    val root = tmpDir("fap-constraint")
    val t = GraftTable.create(spark, root,
      (1L until 20L).map(i => (i, i * 2.0)).toDF("k", "v"), Nil)
    t.addConstraint("positive_k", "k > 0")
    DeltaExport.exportLog(t)
    retire(root)
    val before = DeltaImport.latestVersion(spark, root)
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendToForeign(spark, root,
        Seq((-5L, 1.0)).toDF("k", "v")))
    assert(e.getMessage.contains("positive_k"))
    assert(DeltaImport.latestVersion(spark, root) === before)
    // staging was reaped — no stranded _appends debris
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val appendsDir = new Path(root, "_appends")
    assert(!fs.exists(appendsDir) || fs.listStatus(appendsDir).isEmpty)
    // schema mismatches refuse too
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.appendToForeign(spark, root,
        Seq((1L, 1.0, "x")).toDF("k", "v", "extra")))
    assert(e2.getMessage.contains("extra"))
  }

  test("generated columns: omitted values compute, provided ones validate") {
    val root = tmpDir("fap-gen")
    val t = GraftTable.create(spark, root,
      Seq((1L, 2L)).toDF("k", "twice"), Nil,
      generated = Map("twice" -> "k * 2"), identity = Map.empty)
    DeltaExport.exportLog(t)
    retire(root)
    // omitted → computed from delta.generationExpression
    DeltaExport.appendToForeign(spark, root, Seq(2L).toDF("k"))
    // provided-and-consistent → accepted verbatim
    DeltaExport.appendToForeign(spark, root, Seq((3L, 6L)).toDF("k", "twice"))
    val read = DeltaImport.read(spark, root).as[(Long, Long)].collect().toSet
    assert(read === Set((1L, 2L), (2L, 4L), (3L, 6L)))
    // provided-and-WRONG → refused with the column named, nothing committed
    val head = DeltaImport.latestVersion(spark, root)
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendToForeign(spark, root,
        Seq((4L, 999L)).toDF("k", "twice")))
    assert(e.getMessage.contains("generated twice"))
    assert(DeltaImport.latestVersion(spark, root) === head)
  }

  test("generated PARTITION column fills and lands in its partition dir") {
    val root = tmpDir("fap-genpart")
    val t = GraftTable.create(spark, root,
      (0L until 12L).map(i => (i, i % 3)).toDF("k", "bucket"),
      partitionBy = Seq("bucket"),
      generated = Map("bucket" -> "k % 3"), identity = Map.empty)
    DeltaExport.exportLog(t)
    retire(root)
    DeltaExport.appendToForeign(spark, root,
      (12L until 18L).map(Tuple1(_)).toDF("k"))
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 18L)
    assert(read.filter(col("bucket") =!= col("k") % 3).count() === 0L)
    // partition values recovered from the dirs the fill laid out
    assert(DeltaImport.where(spark, root, col("bucket") === 0L)
      .filter(col("k") >= 12L).count() === 2L) // 12, 15
  }

  test("identity columns: ids assigned above the HWM, metaData advances it") {
    val root = tmpDir("fap-ident")
    val t = GraftTable.create(spark, root,
      (0L until 10L).map(i => Tuple1(s"s$i")).toDF("s"), Nil,
      generated = Map.empty, identity = Map("id" -> (100L, 5L)))
    DeltaExport.exportLog(t)
    retire(root)
    def hwmOf(): Long = DeltaImport.snapshot(spark, root).schema("id")
      .metadata.getLong("delta.identity.highWaterMark")
    val hwm0 = hwmOf()
    DeltaExport.appendToForeign(spark, root,
      (0 until 7).map(i => Tuple1(s"n$i")).toDF("s"))
    val read = DeltaImport.read(spark, root).select("id").as[Long]
      .collect()
    assert(read.length === 17 && read.distinct.length === 17)
    // every engine-assigned id sits above the prior watermark and the
    // re-published metaData carries the new one
    assert(hwmOf() > hwm0)
    assert(read.max === hwmOf())
    // a second append stacks above the advanced mark — still unique
    DeltaExport.appendToForeign(spark, root,
      (0 until 4).map(i => Tuple1(s"m$i")).toDF("s"))
    val all = DeltaImport.read(spark, root).select("id").as[Long].collect()
    assert(all.length === 21 && all.distinct.length === 21)
  }

  test("DESCENDING identity (negative step) keeps allocating unique ids") {
    // delta-spark's GENERATED ALWAYS AS IDENTITY (START 100 INCREMENT -5)
    // — the watermark is directional; taking max would never advance it
    // and successive appends would re-allocate the same ids. The fixture
    // is a hand-written foreign log (graft's native identity is
    // ascending-only).
    val root = tmpDir("fap-ident-desc")
    val logDir = new Path(root, "_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(logDir)
    val schema = """{"type":"struct","fields":[
      |{"name":"s","type":"string","nullable":true,"metadata":{}},
      |{"name":"id","type":"long","nullable":true,"metadata":{
      |"delta.identity.start":100,"delta.identity.step":-5,
      |"delta.identity.allowExplicitInsert":false}}]}"""
      .stripMargin.replaceAll("\n", "")
    val v0 =
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["identityColumns"]}}""" + "\n" +
      s"""{"metaData":{"id":"desc-ident","format":{"provider":"parquet",""" +
        s""""options":{}},"schemaString":${org.json4s.jackson.JsonMethods
          .compact(org.json4s.JString(schema))},"partitionColumns":[],""" +
        """"configuration":{}}}""" + "\n"
    val out = fs.create(new Path(logDir, f"${0L}%020d.json"), false)
    out.write(v0.getBytes("UTF-8")); out.close()

    DeltaExport.appendToForeign(spark, root,
      (0 until 3).map(i => Tuple1(s"a$i")).toDF("s"))
    DeltaExport.appendToForeign(spark, root,
      (0 until 3).map(i => Tuple1(s"b$i")).toDF("s"))
    val ids = DeltaImport.read(spark, root).select("id").as[Long].collect()
    assert(ids.length === 6 && ids.distinct.length === 6,
      s"duplicate descending identity ids: ${ids.sorted.toSeq}")
    assert(ids.max === 100L && ids.forall(i => (100L - i) % 5 == 0))
    // the re-published watermark is the MIN (directional)
    assert(DeltaImport.snapshot(spark, root).schema("id")
      .metadata.getLong("delta.identity.highWaterMark") === ids.min)
  }

  test("row-tracked append assigns ids above the HWM and advances it") {
    val root = tmpDir("fap-rowtrack")
    val t = GraftTable.createWithProperties(spark, root,
      (0L until 25L).map(i => (i, s"s$i")).toDF("k", "s"),
      Map("graft.rowTracking" -> "true"))
    DeltaExport.exportLog(t)
    retire(root)
    def hwm: Long = (JsonMethods.parse(DeltaImport.snapshot(spark, root)
      .domainMetadata("delta.rowTracking")) \ "rowIdHighWaterMark") match {
      case org.json4s.JInt(n) => n.toLong
      case other => fail(s"unexpected hwm json: $other")
    }
    val hwm0 = hwm
    DeltaExport.appendToForeign(spark, root,
      (25L until 35L).map(i => (i, s"s$i")).toDF("k", "s"))
    assert(hwm === hwm0 + 10L)
    val snap = DeltaImport.snapshot(spark, root)
    val appended = snap.files.filter(_.path.startsWith("_appends"))
    assert(appended.nonEmpty)
    assert(appended.forall(f =>
      f.baseRowId.exists(_ > hwm0) && f.defaultRowCommitVersion.isDefined))
    // no id range overlaps a pre-existing file's
    val ranges = snap.files.map(f => f.baseRowId.get).sorted
    assert(ranges.distinct === ranges)
  }

  test("foreign DV delete: hits recorded without rewrites, old DVs union") {
    val root = tmpDir("fdel-dv")
    val t = GraftTable.create(spark, root,
      (0L until 60L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.deletePositional(col("k") === 59L) // protocol advertises DVs
    DeltaExport.exportLog(t)
    retire(root)
    val dataFilesBefore = DeltaImport.snapshot(spark, root)
      .files.map(f => f.path -> f.modificationTime).toMap

    val (v, n) = DeltaExport.deleteFromForeign(spark, root, col("k") % 3 === 0L)
    assert(n === (0L until 59L).count(_ % 3 == 0))
    assert(DeltaImport.latestVersion(spark, root) === v)
    val read = DeltaImport.read(spark, root)
    assert(read.count() === (0L until 59L).count(_ % 3 != 0))
    assert(read.filter(col("k") === 59L).count() === 0L) // old DV held
    assert(read.filter(col("k") === 57L).count() === 0L) // new DV held
    // no data file was rewritten — same paths, same mtimes
    val after = DeltaImport.snapshot(spark, root)
    assert(after.files.map(f => f.path -> f.modificationTime).toMap
      === dataFilesBefore)
    assert(after.files.exists(_.deletionVector.exists(_.cardinality > 1)))
    // CDF (always on for exported mirrors) restates the deletes
    val ch = DeltaImport.readChanges(spark, root, v, v)
    assert(ch.filter(col("_change_type") === "delete").count() === n)
    // a second delete unions into fresh DVs
    val (v2, n2) = DeltaExport.deleteFromForeign(spark, root, col("k") === 1L)
    assert(v2 === v + 1 && n2 === 1L)
    assert(DeltaImport.read(spark, root).count() ===
      (0L until 59L).count(i => i % 3 != 0 && i != 1))
    // a no-match delete commits nothing
    val (v3, n3) = DeltaExport.deleteFromForeign(spark, root, col("k") === 1000L)
    assert(v3 === v2 && n3 === 0L)
  }

  test("DV-less foreign delete/merge fall back to the rewrite shape") {
    val root = tmpDir("fdel-nodv")
    val t = GraftTable.create(spark, root,
      (0L until 20L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t) // no DVs in play — protocol never advertises them
    retire(root)
    val pathsBefore = DeltaImport.snapshot(spark, root).files.map(_.path).toSet
    val (_, n) = DeltaExport.deleteFromForeign(spark, root, col("k") % 4 === 1L)
    assert(n === 5L)
    val after = DeltaImport.snapshot(spark, root)
    assert(DeltaImport.read(spark, root).count() === 15L)
    assert(after.files.forall(_.deletionVector.isEmpty)) // rewrite, not DVs
    // touched files were replaced by survivor files under _appends/
    assert(after.files.exists(f => !pathsBefore.contains(f.path)))
    // a DV-less MERGE replaces matched images the same way
    val (_, u, i) = DeltaExport.mergeForeignUpsert(spark, root,
      Seq((2L, "upd2"), (100L, "new100")).toDF("k", "s"), "k")
    assert(u === 1L && i === 1L)
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 16L)
    assert(read.filter(col("s") === "upd2").count() === 1L)
    assert(read.filter(col("k") === 3L).count() === 1L) // survivor intact
    assert(DeltaImport.snapshot(spark, root)
      .files.forall(_.deletionVector.isEmpty))

    val root2 = tmpDir("fdel-appendonly")
    val t2 = GraftTable.createWithProperties(spark, root2,
      (0L until 20L).map(i => (i, s"s$i")).toDF("k", "s"),
      Map("delta.appendOnly" -> "true"))
    DeltaExport.exportLog(t2)
    retire(root2)
    val e2 = intercept[IllegalArgumentException](
      DeltaExport.deleteFromForeign(spark, root2, col("k") === 1L))
    assert(e2.getMessage.contains("append-only"))
  }

  test("DV-less foreign update falls back to the rewrite shape") {
    val root = tmpDir("fupd-nodv")
    val t = GraftTable.create(spark, root,
      (0L until 20L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t) // no DVs in play — protocol never advertises them
    retire(root)
    // the touched files leave the table, updated copies and survivors land
    // as new files
    val pathsBeforeUpd = DeltaImport.snapshot(spark, root).files.map(_.path).toSet
    val (_, nu) = DeltaExport.updateForeign(spark, root, col("k") % 4 === 2L,
      Map("s" -> concat(col("s"), lit("!"))))
    assert(nu === 5L) // 2, 6, 10, 14, 18
    val afterUpd = DeltaImport.snapshot(spark, root)
    assert(afterUpd.files.forall(_.deletionVector.isEmpty))
    assert(afterUpd.files.exists(f => !pathsBeforeUpd.contains(f.path)))
    assert(!pathsBeforeUpd.subsetOf(afterUpd.files.map(_.path).toSet))
    val readUpd = DeltaImport.read(spark, root)
    assert(readUpd.count() === 20L)
    assert(readUpd.filter(col("s").endsWith("!")).count() === 5L)
    assert(readUpd.filter(col("s") === "s2!").count() === 1L)
    assert(readUpd.filter(col("k") === 3L).select("s").as[String].collect()
      .toSeq === Seq("s3")) // survivor intact
  }

  test("foreign DV update: copies land as new files, sources DV'd, CDF images") {
    val root = tmpDir("fupd-dv")
    val t = GraftTable.create(spark, root,
      (0L until 40L).map(i => (i, s"s$i", i * 1.0)).toDF("k", "s", "v"), Nil)
    t.deletePositional(col("k") === 39L) // protocol advertises DVs
    DeltaExport.exportLog(t)
    retire(root)
    val (v, n) = DeltaExport.updateForeign(spark, root, col("k") % 10 === 0L,
      Map("v" -> (col("v") + 1000.0)))
    assert(n === 4L) // 0,10,20,30
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 39L) // row count unchanged by an update
    assert(read.filter(col("v") >= 1000.0).count() === 4L)
    assert(read.filter(col("k") === 10L).select("v").head().getDouble(0)
      === 1010.0)
    assert(read.filter(col("k") === 11L).select("v").head().getDouble(0)
      === 11.0) // untouched rows intact
    // CDF restates both images
    val ch = DeltaImport.readChanges(spark, root, v, v)
    assert(ch.filter(col("_change_type") === "update_preimage").count() === 4L)
    assert(ch.filter(col("_change_type") === "update_postimage")
      .filter(col("v") >= 1000.0).count() === 4L)
    // SQL spelling
    val n2 = spark.sql(s"UPDATE delta.`$root` SET s = 'updated' WHERE k = 1")
      .head().getLong(0)
    assert(n2 === 1L)
    assert(DeltaImport.read(spark, root)
      .filter(col("s") === "updated").count() === 1L)
    // a no-match update commits nothing
    val (v3, n3) = DeltaExport.updateForeign(spark, root,
      col("k") === 5000L, Map("s" -> col("s")))
    assert(n3 === 0L && v3 === DeltaImport.latestVersion(spark, root))
  }

  test("foreign row-level verbs record their operation and metrics") {
    val root = tmpDir("fhist-dv")
    val t = GraftTable.create(spark, root,
      (0L until 40L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.deletePositional(col("k") === 39L) // protocol advertises DVs
    DeltaExport.exportLog(t)
    retire(root)
    def metricsAt(v: Long): Map[String, Long] =
      DeltaImport.history(spark, root).filter(col("version") === v)
        .select("operationMetrics").as[Map[String, String]].head()
        .map { case (k, x) => k -> x.toLong }
    // files whose DV changed, and files that are new, between two snapshots
    def dvsAdded(a: DeltaImport.Snapshot, b: DeltaImport.Snapshot): Long = {
      val before = a.files.map(f => f.path -> f.deletionVector).toMap
      b.files.count(f => f.deletionVector.nonEmpty &&
        before.get(f.path).exists(_ != f.deletionVector)).toLong
    }
    def filesAdded(a: DeltaImport.Snapshot, b: DeltaImport.Snapshot): Long = {
      val before = a.files.map(_.path).toSet
      b.files.count(f => !before(f.path)).toLong
    }

    val s0 = DeltaImport.snapshot(spark, root)
    val (vd, nd) = DeltaExport.deleteFromForeign(spark, root, col("k") % 10 === 1L)
    val s1 = DeltaImport.snapshot(spark, root)
    val (vu, nu) = DeltaExport.updateForeign(spark, root, col("k") % 10 === 2L,
      Map("s" -> lit("u")))
    val s2 = DeltaImport.snapshot(spark, root)
    val (vm, mu, md, mi) = DeltaExport.mergeForeignClauses(spark, root,
      Seq((3L, "m3", "keep"), (5L, "x", "del"), (200L, "m200", "keep"))
        .toDF("k", "s", "op"), Seq("k"),
      matched = Seq(MergeClause.Delete(condition = Some(col("s.op") === "del")),
        MergeClause.UpdateAll()),
      notMatched = Seq(MergeClause.InsertAll()))
    val s3 = DeltaImport.snapshot(spark, root)
    assert((nd, nu, mu, md, mi) === ((4L, 4L, 1L, 1L, 1L)))
    assert(Seq(vd, vu, vm) === Seq(s0.version + 1, s0.version + 2, s0.version + 3))

    val ops = DeltaImport.history(spark, root).select("version", "operation")
      .as[(Long, String)].collect().toMap
    assert(ops(vd) === "DELETE" && ops(vu) === "UPDATE" && ops(vm) === "MERGE")
    assert(dvsAdded(s0, s1) > 0L && filesAdded(s0, s1) === 0L)
    assert(metricsAt(vd) === Map("numDeletedRows" -> 4L,
      "numDeletionVectorsAdded" -> dvsAdded(s0, s1), "numRemovedFiles" -> 0L))
    assert(filesAdded(s1, s2) > 0L)
    assert(metricsAt(vu) === Map("numUpdatedRows" -> 4L,
      "numFiles" -> filesAdded(s1, s2),
      "numDeletionVectorsAdded" -> dvsAdded(s1, s2)))
    assert(metricsAt(vm) === Map("numTargetRowsUpdated" -> 1L,
      "numTargetRowsDeleted" -> 1L, "numTargetRowsInserted" -> 1L,
      "numTargetFilesAdded" -> filesAdded(s2, s3),
      "numDeletionVectorsAdded" -> dvsAdded(s2, s3)))
  }

  test("foreign update on a generated-column table recomputes the column") {
    val root = tmpDir("fupd-gen")
    val t = GraftTable.create(spark, root,
      (0L until 10L).map(i => (i, i * 2)).toDF("k", "twice"), Nil,
      generated = Map("twice" -> "k * 2"), identity = Map.empty)
    t.deletePositional(col("k") === 9L) // advertise deletionVectors
    DeltaExport.exportLog(t)
    retire(root)
    val (_, n) = DeltaExport.updateForeign(spark, root, col("k") === 4L,
      Map("k" -> lit(400L)))
    assert(n === 1L)
    val row = DeltaImport.read(spark, root).filter(col("k") === 400L).head()
    assert(row.getAs[Long]("twice") === 800L) // recomputed, not stale 8
    // the materialized invariant holds for every committed row
    assert(DeltaImport.read(spark, root)
      .filter(col("twice") =!= col("k") * 2).count() === 0L)
    // engine-maintained columns are not assignable
    val e = intercept[IllegalArgumentException](
      DeltaExport.updateForeign(spark, root, col("k") === 1L,
        Map("twice" -> lit(0L))))
    assert(e.getMessage.contains("engine-maintained"))
  }

  test("foreign update refuses partition-column assignments") {
    val root = tmpDir("fupd-part")
    val t = GraftTable.create(spark, root,
      (0L until 20L).map(i => (i, s"s$i", i % 4)).toDF("k", "s", "p"),
      partitionBy = Seq("p"))
    t.deletePositional(col("k") === 19L)
    DeltaExport.exportLog(t)
    retire(root)
    val e = intercept[IllegalArgumentException](
      DeltaExport.updateForeign(spark, root, col("k") === 1L,
        Map("p" -> (col("p") + 1))))
    assert(e.getMessage.contains("partition column"))
    // non-partition assignment works on the partitioned table
    val (_, n) = DeltaExport.updateForeign(spark, root, col("k") === 1L,
      Map("s" -> col("s")))
    assert(n === 1L)
    assert(DeltaImport.read(spark, root).count() === 19L)
  }

  test("SQL spellings: INSERT INTO / DELETE FROM delta.`path`") {
    val root = tmpDir("fap-sql")
    val t = GraftTable.create(spark, root,
      (0L until 30L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.deletePositional(col("k") === 29L) // protocol advertises DVs
    DeltaExport.exportLog(t)
    retire(root)
    val v = spark.sql(
      s"INSERT INTO delta.`$root` SELECT CAST(100 AS BIGINT) AS k, 's100' AS s")
      .head().getLong(0)
    assert(v === DeltaImport.latestVersion(spark, root))
    assert(DeltaImport.read(spark, root).count() === 30L)
    val n = spark.sql(s"DELETE FROM delta.`$root` WHERE k % 2 = 0")
      .head().getLong(0)
    assert(n === (0L until 29L).count(_ % 2 == 0) + 1) // incl. the k=100 row
    assert(DeltaImport.read(spark, root)
      .filter(col("k") % 2 === 0L).count() === 0L)
  }

  test("foreign MERGE upsert: matched keys replaced via DV, fresh inserted") {
    val root = tmpDir("fmrg")
    val t = GraftTable.create(spark, root,
      (0L until 30L).map(i => (i, s"s$i", i * 1.0)).toDF("k", "s", "v"), Nil)
    t.deletePositional(col("k") === 29L) // protocol advertises DVs
    DeltaExport.exportLog(t)
    retire(root)
    val source = Seq((5L, "upd5", 500.0), (10L, "upd10", 1000.0),
      (100L, "new100", 1.0)).toDF("k", "s", "v")
    val (v, updated, inserted) =
      DeltaExport.mergeForeignUpsert(spark, root, source, "k")
    assert(updated === 2L && inserted === 1L)
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 30L) // 29 survivors + 1 insert
    assert(read.filter(col("k") === 5L).select("s").head().getString(0)
      === "upd5")
    assert(read.filter(col("k") === 100L).count() === 1L)
    assert(read.filter(col("k") === 6L).select("s").head().getString(0)
      === "s6") // untouched
    // CDF classifies per key
    val ch = DeltaImport.readChanges(spark, root, v, v)
    assert(ch.filter(col("_change_type") === "update_preimage").count() === 2L)
    assert(ch.filter(col("_change_type") === "update_postimage").count() === 2L)
    assert(ch.filter(col("_change_type") === "insert").count() === 1L)
    // re-delivery with a txn stamp is a no-op
    val (v2, u2, i2) = DeltaExport.mergeForeignUpsert(spark, root, source, "k",
      txn = Some(("cdc-q", 7L)))
    assert(v2 === v + 1)
    val (v3, u3, i3) = DeltaExport.mergeForeignUpsert(spark, root, source, "k",
      txn = Some(("cdc-q", 7L)))
    assert(v3 === v2 && u3 === 0L && i3 === 0L)
    // duplicate source keys refuse with the delta-spark remedy
    val e = intercept[IllegalArgumentException](
      DeltaExport.mergeForeignUpsert(spark, root,
        Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("k", "s", "v"), "k"))
    assert(e.getMessage.contains("multiple rows"))
    // SQL spelling (canonical upsert)
    Seq((6L, "sql6", 6.0), (200L, "sql200", 2.0)).toDF("k", "s", "v")
      .createOrReplaceTempView("fmrg_src")
    val row = spark.sql(
      s"""MERGE INTO delta.`$root` t USING fmrg_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()
    assert(row.getLong(0) === 1L && row.getLong(1) === 1L)
    assert(DeltaImport.read(spark, root)
      .filter(col("s") === "sql6").count() === 1L)
    // an insert-only merge on a DV-less table needs no DV support
    val root2 = tmpDir("fmrg-nodv")
    val t2 = GraftTable.create(spark, root2,
      Seq((1L, "a")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t2)
    retire(root2)
    val (_, u4, i4) = DeltaExport.mergeForeignUpsert(spark, root2,
      Seq((2L, "b")).toDF("k", "s"), "k")
    assert(u4 === 0L && i4 === 1L)
    assert(DeltaImport.read(spark, root2).count() === 2L)
  }

  test("foreign OPTIMIZE compacts small files and materializes DVs away") {
    val root = tmpDir("fopt")
    val t = GraftTable.create(spark, root,
      (0L until 30L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    // several small appends → a small-file tail; a DV'd file to fold
    (0 until 4).foreach(b => t.append(
      (30L + b * 5 until 35L + b * 5).map(i => (i, s"s$i")).toDF("k", "s")))
    t.deletePositional(col("k") % 7 === 0L)
    DeltaExport.exportLog(t)
    retire(root)
    val before = DeltaImport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().toSet
    val filesBefore = DeltaImport.snapshot(spark, root).files.size
    val vBefore = DeltaImport.latestVersion(spark, root)

    val removed = spark.sql(s"OPTIMIZE delta.`$root`").head().getLong(0)
    assert(removed >= 2)
    val snap = DeltaImport.snapshot(spark, root)
    assert(snap.version === vBefore + 1)
    assert(snap.files.size < filesBefore)
    assert(snap.files.forall(_.deletionVector.isEmpty)) // DVs materialized
    // byte-identical logical content
    assert(DeltaImport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().toSet === before)
    // dataChange=false: the change feed sees NOTHING for the optimize
    // (the reader's contract for a no-data-change version is a loud
    // "no change data", exactly as for a graft OPTIMIZE commit)
    val e = intercept[NoSuchElementException](
      DeltaImport.readChanges(spark, root, snap.version, snap.version))
    assert(e.getMessage.contains("no change data"))
    // an already-compact table is a no-op (one clean file remains)
    val (v2, r2, _) = DeltaExport.optimizeForeign(spark, root)
    assert(v2 === snap.version && r2 === 0L)
    // DESCRIBE HISTORY of the foreign table lists the optimize, newest first
    val hist = spark.sql(s"DESCRIBE HISTORY delta.`$root`").collect()
    assert(hist.length === snap.version + 1)
    assert(hist.head.getAs[Long]("version") === snap.version)
    assert(hist.head.getAs[String]("operation") === "OPTIMIZE")
  }

  test("foreign VACUUM reclaims superseded files past retention") {
    val root = tmpDir("fvac")
    val t = GraftTable.create(spark, root,
      (0L until 30L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.append((30L until 40L).map(i => (i, s"s$i")).toDF("k", "s"))
    t.deletePositional(col("k") % 9 === 0L)
    DeltaExport.exportLog(t)
    retire(root)
    // compaction supersedes every original data file AND its DV bin
    DeltaExport.optimizeForeign(spark, root)
    val before = DeltaImport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().toSet

    val future = System.currentTimeMillis() + 200L * 3600 * 1000
    // dry run reports without deleting
    val dry = DeltaExport.vacuumForeign(spark, root, nowMs = future,
      dryRun = true)
    assert(dry.nonEmpty)
    // fresh files survive the recency rule at NOW
    assert(DeltaExport.vacuumForeign(spark, root).isEmpty)
    // the real pass past retention reclaims exactly the report
    val removed = DeltaExport.vacuumForeign(spark, root, nowMs = future)
    assert(removed.toSet === dry.toSet)
    assert(removed.exists(_.endsWith(".bin"))) // the superseded DV file
    // the live snapshot reads byte-identically afterwards
    assert(DeltaImport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().toSet === before)
    // SQL spelling
    assert(spark.sql(s"VACUUM delta.`$root` RETAIN 168 HOURS DRY RUN")
      .head().getLong(0) === 0L)
  }

  test("foreign RESTORE rewinds data (DV transitions included), not schema") {
    val root = tmpDir("frst")
    val t = GraftTable.create(spark, root,
      (0L until 30L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.deletePositional(col("k") === 29L)
    DeltaExport.exportLog(t)
    retire(root)
    val v0 = DeltaImport.latestVersion(spark, root)
    val expect0 = DeltaImport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().toSet
    // mutate through the foreign verbs: append + DV delete
    DeltaExport.appendToForeign(spark, root,
      Seq((100L, "s100")).toDF("k", "s"))
    DeltaExport.deleteFromForeign(spark, root, col("k") % 5 === 0L)
    assert(DeltaImport.read(spark, root)
      .select("k", "s").collect().length !== expect0.size)

    val row = spark
      .sql(s"RESTORE TABLE delta.`$root` TO VERSION AS OF $v0").head()
    assert(row.getLong(0) + row.getLong(1) > 0)
    assert(DeltaImport.read(spark, root)
      .select("k", "s").as[(Long, String)].collect().toSet === expect0)
    // restore is itself a version — history keeps moving forward
    assert(DeltaImport.latestVersion(spark, root) === v0 + 3)
    // restoring to the head state is a no-op
    val (v2, a2, r2) = DeltaExport.restoreForeign(spark, root, v0 + 3)
    assert(v2 === v0 + 3 && a2 === 0L && r2 === 0L)
    // a vacuumed-away version refuses with the horizon message
    DeltaExport.vacuumForeign(spark, root,
      nowMs = System.currentTimeMillis() + 200L * 3600 * 1000)
    val e = intercept[IllegalArgumentException](
      DeltaExport.restoreForeign(spark, root, v0 + 2))
    assert(e.getMessage.contains("retention horizon"))
  }

  test("txn-stamped appends are exactly-once per (appId, batch)") {
    val root = tmpDir("fap-txn")
    val t = GraftTable.create(spark, root,
      (0L until 10L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t)
    retire(root)
    val batch = Seq((10L, "s10"), (11L, "s11")).toDF("k", "s")
    val v1 = DeltaExport.appendToForeign(spark, root, batch,
      txn = Some(("q1", 0L)))
    // redelivery of the SAME batch is a no-op at the current version
    assert(DeltaExport.appendToForeign(spark, root, batch,
      txn = Some(("q1", 0L))) === v1)
    assert(DeltaImport.read(spark, root).count() === 12L)
    // an older batch id is also a no-op; a newer one commits
    assert(DeltaExport.appendToForeign(spark, root, batch,
      txn = Some(("q1", -1L))) === v1)
    val v2 = DeltaExport.appendToForeign(spark, root,
      Seq((12L, "s12")).toDF("k", "s"), txn = Some(("q1", 1L)))
    assert(v2 === v1 + 1)
    // a DIFFERENT appId is independent
    val v3 = DeltaExport.appendToForeign(spark, root,
      Seq((13L, "s13")).toDF("k", "s"), txn = Some(("q2", 0L)))
    assert(v3 === v2 + 1)
    assert(DeltaImport.read(spark, root).count() === 14L)
    // the watermark survives a checkpoint + covered-JSON cleanup
    DeltaExport.writeCheckpoint(spark, root)
    assert(DeltaImport.snapshot(spark, root)
      .setTransactions === Map("q1" -> 1L, "q2" -> 0L))
  }

  test("foreachBatchForeign streams micro-batches into a foreign table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmpDir("fap-stream")
    val t = GraftTable.create(spark, root,
      Seq((0L, "seed")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t)
    retire(root)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("k", "s").writeStream
      .foreachBatch(DeltaExport.foreachBatchForeign(root, "stream-q"))
      .option("checkpointLocation", tmpDir("fap-stream-ckpt"))
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(DeltaImport.read(spark, root).count() === 4L)
    assert(DeltaImport.snapshot(spark, root)
      .setTransactions.get("stream-q").contains(1L))
  }

  test("losing the commit race retries at the next version") {
    val root = tmpDir("fap-race")
    val t = GraftTable.create(spark, root,
      (0L until 10L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t)
    retire(root)
    val before = DeltaImport.latestVersion(spark, root)
    // a rival writer already took version before+1 (a commitInfo-only
    // commit is protocol-legal)
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rival = new Path(root, f"_delta_log/${before + 1}%020d.json")
    val out = fs.create(rival, false)
    out.write(("""{"commitInfo":{"timestamp":1,"operation":"WRITE",""" +
      """"operationParameters":{},"operationMetrics":{}}}""" + "\n")
      .getBytes("UTF-8"))
    out.close()
    val v = DeltaExport.appendToForeign(spark, root,
      Seq((10L, "s10")).toDF("k", "s"))
    assert(v === before + 2)
    assert(DeltaImport.read(spark, root).count() === 11L)
  }

  /** A foreign table over `rows` (k, s, n); `dv` advertises deletion
    * vectors (one positional delete of a key outside `rows`' range). */
  private def foreignKsn(name: String, rows: Seq[(Long, String, Long)],
      dv: Boolean): String = {
    val root = tmpDir(name)
    val t = GraftTable.create(spark, root,
      (rows :+ ((999L, "gone", 0L))).toDF("k", "s", "n"), Nil)
    if (dv) t.deletePositional(col("k") === 999L)
    else t.delete(col("k") === 999L)
    DeltaExport.exportLog(t)
    retire(root)
    val proto = DeltaImport.snapshot(spark, root).protocol
    assert(proto.exists(_.writerFeatures.contains("deletionVectors")) === dv)
    root
  }

  test("upsert over duplicate target keys updates every matched row, as Delta does") {
    for (dv <- Seq(true, false)) {
      val root = foreignKsn(s"fmrg-dupkey-$dv",
        Seq((1L, "a", 1L), (1L, "b", 2L), (2L, "c", 3L)), dv)
      val (v, updated, inserted) = DeltaExport.mergeForeignUpsert(spark, root,
        Seq((1L, "new", 10L)).toDF("k", "s", "n"), "k")
      assert(updated === 2L && inserted === 0L, s"dv=$dv")
      val rows = DeltaImport.read(spark, root).select("k", "s", "n")
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(rows === Seq((1L, "new", 10L), (1L, "new", 10L), (2L, "c", 3L)),
        s"dv=$dv")
      val ch = DeltaImport.readChanges(spark, root, v, v)
        .groupBy("_change_type").count().as[(String, Long)].collect().toMap
      assert(ch === Map("update_preimage" -> 2L, "update_postimage" -> 2L),
        s"dv=$dv")
    }
  }

  test("upsert's strict contract: missing, unknown, lossy and keyless sources refuse") {
    for (dv <- Seq(true, false)) {
      val root = foreignKsn(s"fmrg-strict-$dv",
        Seq((1L, "a", 1L), (2L, "b", 2L)), dv)
      val before = DeltaImport.latestVersion(spark, root)
      def refusal(src: org.apache.spark.sql.DataFrame, key: String = "k") =
        intercept[IllegalArgumentException](
          DeltaExport.mergeForeignUpsert(spark, root, src, key)).getMessage
      assert(refusal(Seq((1L, "x")).toDF("k", "s"))
        .contains(s"merge into $root: missing column n"), s"dv=$dv")
      assert(refusal(Seq((1L, "x", 1L, 7)).toDF("k", "s", "n", "extra"))
        .contains(s"merge into $root: unknown column(s) extra"), s"dv=$dv")
      assert(refusal(Seq((1L, "x", 1.5)).toDF("k", "s", "n"))
        .contains("column n of type double does not up-cast losslessly to bigint"),
        s"dv=$dv")
      assert(refusal(Seq((1L, "x", 1L)).toDF("k", "s", "n"), key = "id")
        .contains(s"merge into $root: no key column named id"), s"dv=$dv")
      assert(DeltaImport.latestVersion(spark, root) === before, s"dv=$dv")
      assert(DeltaImport.read(spark, root).count() === 2L, s"dv=$dv")
    }
  }
}
