package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.GraftTable

/** TRUE multi-writer races on the foreign verbs — a rival commit lands in
  * the window between the verb's snapshot read and its exclusive publish
  * (staged through [[DeltaExport.onBeforeForeignPublish]], the seam every
  * publish attempt crosses). The optimistic protocol must either retry
  * cleanly (the rival commutes: blind appends vs blind appends, disjoint
  * rows) or abort with the re-run message and NO partial state (the rival
  * conflicts: its rows match the predicate / merge keys). Also covers the
  * put-if-absent publish itself (the rival's file must survive verbatim),
  * tombstone-aware VACUUM, and the auto-checkpoint cadence batch verbs
  * owe the table. */
class DeltaForeignRaceSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A pure Delta table (graft log retired) holding (k, s) rows 0..n-1,
    * with a DV-advertising prehistory so the DV verbs run their real
    * shape. */
  private def foreignTable(name: String, n: Long): String = {
    val root = tmpDir(name)
    val t = GraftTable.create(spark, root,
      (0L to n).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.deletePositional(col("k") === n) // a real DV commit → advertised
    DeltaExport.exportLog(t)
    fs.delete(new Path(root, "_graft_log"), true)
    root
  }

  /** Arms the seam to run `rival` exactly once, mid-verb; the rival's own
    * publishes cross the seam too, so the guard must flip first. */
  private def armRival(rival: => Unit)(body: => Unit): Unit = {
    var fired = false
    DeltaExport.onBeforeForeignPublish = () => {
      if (!fired) { fired = true; rival }
    }
    try body
    finally DeltaExport.onBeforeForeignPublish = () => ()
  }

  /** Like [[foreignTable]] but WITHOUT deletion-vector support, so deletes
    * take the rewrite fallback and stage survivor files; the export
    * advertises the change feed, so they stage cdc files too. */
  private def rewriteTable(name: String, n: Long): String = {
    val root = tmpDir(name)
    val t = GraftTable.create(spark, root,
      (0L until n).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    DeltaExport.exportLog(t)
    fs.delete(new Path(root, "_graft_log"), true)
    root
  }

  /** Neither `_appends/` staging nor `_change_data/graft-*` cdc staging is
    * left behind under `root`. */
  private def assertNoStaging(root: String): Unit = {
    def names(dir: String): Seq[String] = {
      val p = new Path(root, dir)
      if (!fs.exists(p)) Nil else fs.listStatus(p).map(_.getPath.getName).toSeq
    }
    assert(names("_appends").isEmpty, "stranded staging")
    assert(!names("_change_data").exists(_.startsWith("graft-")),
      "stranded cdc staging")
  }

  private def commitInfoOnly(ts: Long, ict: Option[Long] = None): String =
    s"""{"commitInfo":{"timestamp":$ts,""" +
      ict.map(t => s""""inCommitTimestamp":$t,""").getOrElse("") +
      """"operation":"WRITE","operationParameters":{},"operationMetrics":{}}}""" +
      "\n"

  private def writeLogFile(root: String, v: Long, content: String): Unit = {
    val out = fs.create(new Path(root, f"_delta_log/$v%020d.json"), false)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def ictOf(root: String, v: Long): Option[Long] = {
    val in = fs.open(new Path(root, f"_delta_log/$v%020d.json"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    lines.filter(_.trim.nonEmpty)
      .map(l => org.json4s.jackson.JsonMethods.parse(l) \ "commitInfo" \
        "inCommitTimestamp")
      .collectFirst { case org.json4s.JInt(t) => t.toLong }
  }

  test("append races a mid-flight rival: retries at N+2, rival intact") {
    val root = foreignTable("race-append", 20L)
    val before = DeltaImport.latestVersion(spark, root)
    val rivalPath = new Path(root, f"_delta_log/${before + 1}%020d.json")
    val rivalContent =
      """{"commitInfo":{"timestamp":1,"operation":"WRITE",""" +
        """"operationParameters":{},"operationMetrics":{}}}""" + "\n"
    armRival {
      val out = fs.create(rivalPath, false)
      out.write(rivalContent.getBytes("UTF-8")); out.close()
    } {
      val v = DeltaExport.appendToForeign(spark, root,
        Seq((100L, "s100")).toDF("k", "s"))
      assert(v === before + 2)
    }
    // the rival's committed file was NOT overwritten by the loser's bytes
    val in = fs.open(rivalPath)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(lines === rivalContent)
    assert(DeltaImport.read(spark, root).count() === 21L)
  }

  test("delete commutes with a rival append of NON-matching rows") {
    val root = foreignTable("race-del-ok", 40L)
    armRival {
      DeltaExport.appendToForeign(spark, root,
        Seq((1000L, "far")).toDF("k", "s")) // stats-disjoint from k<40
    } {
      val (_, n) = DeltaExport.deleteFromForeign(spark, root,
        col("k") % 10 === 0L && col("k") < 40L)
      assert(n === 4L)
    }
    val left = DeltaImport.read(spark, root).select("k").as[Long]
      .collect().toSet
    assert(!left.exists(k => k % 10 == 0 && k < 40))
    assert(left.contains(1000L)) // the rival's row survived the race
  }

  test("delete aborts when a rival appends rows the predicate matches") {
    val root = foreignTable("race-del-bad", 40L)
    val e = intercept[IllegalArgumentException] {
      armRival {
        DeltaExport.appendToForeign(spark, root,
          Seq((30L, "dup30")).toDF("k", "s")) // 30 matches the predicate
      } {
        DeltaExport.deleteFromForeign(spark, root, col("k") % 10 === 0L)
      }
    }
    assert(e.getMessage.contains("re-run"))
    // nothing half-applied: all 40 base rows + the rival's row visible
    assert(DeltaImport.read(spark, root).count() === 41L)
  }

  test("merge aborts when a rival appends one of the source's keys") {
    val root = foreignTable("race-mrg-bad", 40L)
    val source = Seq((5L, "upd5"), (100L, "new100")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      armRival {
        DeltaExport.appendToForeign(spark, root,
          Seq((100L, "rival100")).toDF("k", "s"))
      } {
        DeltaExport.mergeForeignUpsert(spark, root, source, "k")
      }
    }
    assert(e.getMessage.contains("re-run"))
    // no duplicate key, no partial merge: base + the rival row only
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 41L)
    assert(read.filter(col("k") === 100L).count() === 1L)
    // the merge's staged-but-never-committed files are reapable strays
    // under _appends (referenced by nothing) — vacuum's stage sweep turf
    assert(read.filter(col("s") === "upd5").count() === 0L)
  }

  test("merge commutes with a rival append of unrelated keys") {
    val root = foreignTable("race-mrg-ok", 40L)
    armRival {
      DeltaExport.appendToForeign(spark, root,
        Seq((1000L, "far")).toDF("k", "s"))
    } {
      val (_, matched, inserted) = DeltaExport.mergeForeignUpsert(spark,
        root, Seq((5L, "upd5"), (100L, "new100")).toDF("k", "s"), "k")
      assert(matched === 1L && inserted === 1L)
    }
    val read = DeltaImport.read(spark, root)
    assert(read.count() === 42L)
    assert(read.filter(col("k") === 5L).select("s").head().getString(0)
      === "upd5")
  }

  test("update aborts on a rival append of matching rows, commutes otherwise") {
    val root = foreignTable("race-upd", 40L)
    val e = intercept[IllegalArgumentException] {
      armRival {
        DeltaExport.appendToForeign(spark, root,
          Seq((10L, "r10")).toDF("k", "s"))
      } {
        DeltaExport.updateForeign(spark, root, col("k") === 10L,
          Map("s" -> lit("TEN")))
      }
    }
    assert(e.getMessage.contains("re-run"))
    armRival {
      DeltaExport.appendToForeign(spark, root,
        Seq((2000L, "far")).toDF("k", "s"))
    } {
      val (_, n) = DeltaExport.updateForeign(spark, root,
        col("k") === 11L, Map("s" -> lit("ELEVEN")))
      assert(n === 1L)
    }
    assert(DeltaImport.read(spark, root)
      .filter(col("s") === "ELEVEN").count() === 1L)
  }

  test("vacuum keeps files whose remove tombstone is inside retention") {
    val root = tmpDir("vac-tomb")
    val t = GraftTable.create(spark, root,
      (0L until 20L).map(i => (i, s"s$i")).toDF("k", "s"), Nil)
    t.append((20L until 30L).map(i => (i, s"s$i")).toDF("k", "s"))
    DeltaExport.exportLog(t)
    fs.delete(new Path(root, "_graft_log"), true)
    val v0 = DeltaImport.latestVersion(spark, root)
    // age the DATA files far past retention (the log stays untouched)
    val old = System.currentTimeMillis() - 300L * 3600 * 1000
    val snap = DeltaImport.snapshot(spark, root)
    snap.files.foreach { f =>
      fs.setTimes(DeltaImport.resolveFile(root, f.path), old, -1) }
    // OPTIMIZE removes them NOW — written long ago, removed recently
    DeltaExport.optimizeForeign(spark, root)
    // mtime-only vacuum would reclaim them (mtime < cutoff); the
    // tombstone rule must protect them: deletionTimestamp is ~now
    val reclaimed = DeltaExport.vacuumForeign(spark, root)
    assert(!reclaimed.exists(_.endsWith(".parquet")),
      s"retention-covered files reclaimed: $reclaimed")
    // time travel within the window still works
    val (rv, ra, _) = DeltaExport.restoreForeign(spark, root, v0)
    assert(ra > 0L)
    assert(DeltaImport.read(spark, root).count() === 30L)
    // past the tombstone window the same files ARE reclaimable: restore
    // first re-removed them (fresh tombstones), so rewind to post-restore
    // and age everything out
    val future = System.currentTimeMillis() + 400L * 3600 * 1000
    val gone = DeltaExport.vacuumForeign(spark, root, nowMs = future,
      dryRun = true)
    assert(gone.exists(_.endsWith(".parquet")))
    assert(rv > v0)
  }

  test("retention interval spellings parse — compound included, " +
      "calendar-ambiguous refused") {
    assert(DeltaExport.intervalMs("interval 30 days")
      .contains(30L * 24 * 3600 * 1000))
    // compound spellings delta-spark accepts must NOT silently fall back
    // to the default — cleanup would delete inside the owner's window
    assert(DeltaExport.intervalMs("interval 45 days 12 hours")
      .contains(45L * 24 * 3600 * 1000 + 12L * 3600 * 1000))
    assert(DeltaExport.intervalMs("2 weeks")
      .contains(14L * 24 * 3600 * 1000))
    assert(DeltaExport.intervalMs("interval 3 months").isEmpty)
    assert(DeltaExport.intervalMs("garbage").isEmpty)
  }

  test("checkpoint-time cleanup expires the JSON tail per the table's " +
      "own retention") {
    val root = tmpDir("auto-clean")
    val t = GraftTable.createWithProperties(spark, root,
      (0L until 5L).map(i => (i, s"s$i")).toDF("k", "s"),
      Map("delta.checkpointInterval" -> "5",
        "delta.logRetentionDuration" -> "interval 0 seconds"))
    DeltaExport.exportLog(t)
    fs.delete(new Path(root, "_graft_log"), true)
    (0 until 12).foreach { i =>
      DeltaExport.appendToForeign(spark, root,
        Seq((100L + i, s"a$i")).toDF("k", "s"))
    }
    val ckpt = DeltaImport.latestCheckpointVersion(spark, root)
    assert(ckpt.nonEmpty)
    // zero retention: every JSON below the checkpoint is expired
    val logDir = new Path(root, "_delta_log")
    val jsons = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(n => n.endsWith(".json") &&
        n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong)
    assert(jsons.nonEmpty && jsons.forall(_ >= ckpt.get),
      s"stale tail below checkpoint ${ckpt.get}: ${jsons.sorted.toSeq}")
    // cold open reads through the checkpoint alone
    assert(DeltaImport.read(spark, root).count() === 17L)
  }

  test("batch verbs auto-checkpoint at the table's cadence") {
    val root = foreignTable("auto-ckpt", 10L)
    assert(DeltaImport.latestCheckpointVersion(spark, root).isEmpty)
    (0 until 12).foreach { i =>
      DeltaExport.appendToForeign(spark, root,
        Seq((100L + i, s"a$i")).toDF("k", "s"))
    }
    // delta.checkpointInterval default 10: the tail crossed it mid-loop
    val ckpt = DeltaImport.latestCheckpointVersion(spark, root)
    assert(ckpt.nonEmpty, "no checkpoint after 12 foreign commits")
    val head = DeltaImport.latestVersion(spark, root)
    assert(head - ckpt.get < 11, s"tail $head-${ckpt.get} unbounded")
    // readers open through the checkpoint and see everything
    assert(DeltaImport.read(spark, root).count() === 22L)
  }

  test("delete losing every race gives up after 20 attempts, staging reaped") {
    val root = rewriteTable("race-del-storm", 40L)
    val snap = DeltaImport.snapshot(spark, root)
    assert(snap.configuration.get("delta.enableChangeDataFeed").contains("true"))
    assert(!snap.protocol.exists(_.writerFeatures.contains("deletionVectors")))
    // every publish attempt finds a rival already holding its version
    DeltaExport.onBeforeForeignPublish = () =>
      writeLogFile(root, DeltaImport.latestVersion(spark, root) + 1,
        commitInfoOnly(1L))
    val e = try intercept[IllegalArgumentException] {
      DeltaExport.deleteFromForeign(spark, root, col("k") % 10 === 0L)
    } finally DeltaExport.onBeforeForeignPublish = () => ()
    assert(e.getMessage.contains("lost the commit race"))
    assertNoStaging(root)
    assert(DeltaImport.read(spark, root).count() === 40L)
  }

  test("a rival turning on appendOnly refuses a mid-flight delete and " +
      "update; staging reaped") {
    val plain = rewriteTable("race-ao-del", 40L)
    val e1 = intercept[IllegalArgumentException] {
      armRival {
        DeltaExport.setForeignProperties(spark, plain,
          Map("delta.appendOnly" -> "true"))
      } {
        DeltaExport.deleteFromForeign(spark, plain, col("k") % 10 === 0L)
      }
    }
    assert(e1.getMessage.contains("append-only"))
    assertNoStaging(plain)
    assert(DeltaImport.read(spark, plain).count() === 40L)

    val dv = foreignTable("race-ao-upd", 40L)
    val e2 = intercept[IllegalArgumentException] {
      armRival {
        DeltaExport.setForeignProperties(spark, dv,
          Map("delta.appendOnly" -> "true"))
      } {
        DeltaExport.updateForeign(spark, dv, col("k") === 10L,
          Map("s" -> lit("TEN")))
      }
    }
    assert(e2.getMessage.contains("append-only"))
    assertNoStaging(dv)
    assert(DeltaImport.read(spark, dv).filter(col("s") === "TEN").count() === 0L)
  }

  test("an append losing to an ICT rival an hour ahead stamps rival + 1 ms") {
    val root = foreignTable("race-ict", 20L)
    DeltaExport.setForeignProperties(spark, root,
      Map("delta.enableInCommitTimestamps" -> "true"))
    val before = DeltaImport.latestVersion(spark, root)
    val rivalIct = System.currentTimeMillis() + 3600L * 1000
    armRival {
      writeLogFile(root, before + 1, commitInfoOnly(rivalIct, Some(rivalIct)))
    } {
      val v = DeltaExport.appendToForeign(spark, root,
        Seq((100L, "s100")).toDF("k", "s"))
      assert(v === before + 2)
    }
    assert(ictOf(root, before + 2) === Some(rivalIct + 1))
  }
}
