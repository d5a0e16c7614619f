package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Mechanizes the reference's operational verification (SURVEY §5): replay
  * the test-cdc.sh-shaped DML sequence as table mutations and assert
  * snapshot / history / time-travel / CDF states per version — the checks
  * notebooks/deltalake-query.ipynb cells 11-12, 21-26, 53 do by eye. */
class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def seedCustomers = Seq(
    (1L, "John", "john@x.com", 100.0),
    (2L, "Jane", "jane@x.com", 200.0),
    (3L, "Bob", "bob@x.com", 300.0)
  ).toDF("id", "name", "email", "balance")

  test("create + read + history") {
    val t = GraftTable.create(spark, tmpDir("gt-create"), seedCustomers)
    assert(t.version === 0)
    assert(t.read().count() === 3)
    val h = t.history().collect()
    assert(h.length === 1)
    assert(h(0).getAs[String]("operation") === "CREATE")
  }

  test("append adds a dir without rewriting, row counts accumulate") {
    val t = GraftTable.create(spark, tmpDir("gt-append"), seedCustomers)
    t.append(Seq((4L, "Ann", "ann@x.com", 400.0)).toDF("id", "name", "email", "balance"))
    assert(t.version === 1)
    assert(t.read().count() === 4)
    assert(t.readVersion(0).count() === 3)
  }

  test("merge: insert + update-all + change-detection, with CDF and metrics") {
    val t = GraftTable.create(spark, tmpDir("gt-merge"), seedCustomers)
    // UPDATE id=1 email (changed), id=2 identical (no-op under changedOnly),
    // INSERT id=5 — the test-cdc.sh INSERT/UPDATE mix.
    val batch = Seq(
      (1L, "John", "john@new.com", 100.0),
      (2L, "Jane", "jane@x.com", 200.0),
      (5L, "Eve", "eve@x.com", 500.0)
    ).toDF("id", "name", "email", "balance")
    val c = t.merge(batch, "id")
    assert(c.metrics("numTargetRowsInserted") === 1)
    assert(c.metrics("numTargetRowsUpdated") === 1)

    val snap = t.read().orderBy("id").collect()
    assert(snap.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 5L))
    assert(snap(0).getAs[String]("email") === "john@new.com")

    val cdf = t.readChanges(1).orderBy("id", "_change_type").collect()
    val types = cdf.map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_type"))).toSeq
    assert(types === Seq(
      (1L, "update_postimage"), (1L, "update_preimage"), (5L, "insert")))
    assert(cdf.forall(_.getAs[Long]("_commit_version") === 1L))
  }

  test("merge without changedOnly updates identical rows too") {
    val t = GraftTable.create(spark, tmpDir("gt-merge-all"), seedCustomers)
    val c = t.merge(seedCustomers, "id", changedOnly = false)
    assert(c.metrics("numTargetRowsUpdated") === 3)
    assert(c.metrics("numTargetRowsInserted") === 0)
    assert(t.read().count() === 3)
  }

  test("merge keeps target-only columns on matched rows (updateAll scope)") {
    val t = GraftTable.create(spark, tmpDir("gt-keepcols"), seedCustomers)
    // Source lacks `balance` entirely: matched rows must keep their target
    // balance, not have it nulled; and an otherwise-identical source row
    // must not count as changed just because balance is absent.
    val slim = Seq(
      (1L, "John", "john@new.com"),
      (2L, "Jane", "jane@x.com")
    ).toDF("id", "name", "email")
    val c = t.merge(slim, "id")
    assert(c.metrics("numTargetRowsUpdated") === 1) // only the email change
    val rows = t.read().orderBy("id").collect()
    assert(rows(0).getAs[String]("email") === "john@new.com")
    assert(rows(0).getAs[Double]("balance") === 100.0) // kept, not nulled
    assert(rows(1).getAs[Double]("balance") === 200.0)
  }

  test("merge drops null-key source rows instead of corrupting") {
    val t = GraftTable.create(spark, tmpDir("gt-nullkey"), seedCustomers)
    val withNull = Seq(
      (Some(9L), "Ok", "ok@x.com", 9.0),
      (Option.empty[Long], "Bad", "bad@x.com", 0.0)
    ).toDF("id", "name", "email", "balance")
    t.merge(withNull, "id")
    val snap = t.read().collect()
    assert(snap.length === 4) // 3 seed + 1 valid insert; no all-NULL row
    assert(!snap.exists(_.isNullAt(0)))
  }

  test("merge with additive schema evolution (mergeSchema, M6)") {
    val t = GraftTable.create(spark, tmpDir("gt-evolve"), seedCustomers)
    val withPhone = Seq((6L, "Zed", "z@x.com", 600.0, "555-0100"))
      .toDF("id", "name", "email", "balance", "phone")
    t.merge(withPhone, "id")
    val snap = t.read()
    assert(snap.columns.toSeq === Seq("id", "name", "email", "balance", "phone"))
    val old = snap.filter($"id" === 1L).select("phone").head()
    assert(old.isNullAt(0))
    val neu = snap.filter($"id" === 6L).select("phone").head()
    assert(neu.getString(0) === "555-0100")
  }

  test("delete by predicate and by keys (anti-join), with delete CDF") {
    val t = GraftTable.create(spark, tmpDir("gt-del"), seedCustomers)
    val c1 = t.delete($"id" === 2L)
    assert(c1.metrics("numDeletedRows") === 1)
    assert(t.read().count() === 2)
    val c2 = t.deleteKeys(Seq(1L).toDF("id"), "id")
    assert(c2.metrics("numDeletedRows") === 1)
    assert(t.read().select("id").as[Long].collect().toSeq === Seq(3L))
    val dels = t.readChanges(1, 2).filter($"_change_type" === "delete")
    assert(dels.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("update rewrites matching rows and emits pre/post images") {
    val t = GraftTable.create(spark, tmpDir("gt-upd"), seedCustomers)
    val c = t.update($"balance" < 250.0, Map("balance" -> ($"balance" * 2)))
    assert(c.metrics("numUpdatedRows") === 2)
    val snap = t.read().orderBy("id").select("balance").as[Double].collect().toSeq
    assert(snap === Seq(200.0, 400.0, 300.0))
  }

  test("time travel by version and by timestamp") {
    val t = GraftTable.create(spark, tmpDir("gt-tt"), seedCustomers)
    val ts0 = t.history().orderBy("version").select("timestamp")
      .head().getTimestamp(0).getTime
    Thread.sleep(5)
    t.delete($"id" === 1L)
    assert(t.readVersion(0).count() === 3)
    assert(t.read().count() === 2)
    assert(t.readAsOf(ts0).count() === 3)
    assert(t.readAsOf(System.currentTimeMillis()).count() === 2)
    intercept[NoSuchElementException](t.readAsOf(ts0 - 100000))
  }

  test("restore re-publishes an old version metadata-only") {
    val t = GraftTable.create(spark, tmpDir("gt-restore"), seedCustomers)
    t.delete($"id" =!= 1L)
    assert(t.read().count() === 1)
    t.restore(0)
    assert(t.version === 2)
    assert(t.read().count() === 3)
  }

  test("optimize compacts appends into one version, data unchanged") {
    val t = GraftTable.create(spark, tmpDir("gt-opt"), seedCustomers)
    (0 until 3).foreach { i =>
      t.append(Seq((10L + i, s"u$i", s"u$i@x.com", 1.0)).toDF("id", "name", "email", "balance"))
    }
    val before = t.read().orderBy("id").collect()
    val c = t.optimize()
    assert(c.operation === "OPTIMIZE")
    assert(t.read().orderBy("id").collect() === before)
    assert(c.dataDirs.length === 1)
  }

  test("vacuum removes expired versions but keeps head + retained") {
    val t = GraftTable.create(spark, tmpDir("gt-vac"), seedCustomers)
    t.delete($"id" === 1L) // v1
    t.delete($"id" === 2L) // v2 (head)
    // Pretend v0/v1 are 200 h old by vacuuming "in the future".
    val future = System.currentTimeMillis() + 200L * 3600 * 1000
    val deleted = t.vacuum(retentionHours = 168.0, nowMs = future)
    assert(deleted.nonEmpty)
    assert(t.read().count() === 1) // head still readable
    intercept[Exception](t.readVersion(0).count())
  }

  test("vacuum FULL reclaims untracked debris; default (lite) never lists") {
    val dir = tmpDir("gt-vac-full")
    val t = GraftTable.create(spark, dir, seedCustomers)
    t.delete($"id" === 1L) // v1 (head)
    // a crashed writer's leftovers: a populated data dir NO commit references
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, "data/v00099-crashed-write")
    seedCustomers.write.parquet(orphan.toString)
    val future = System.currentTimeMillis() + 200L * 3600 * 1000
    // the log-driven default cannot see it (nothing references it)
    t.vacuum(retentionHours = 168.0, nowMs = future)
    assert(fs.exists(orphan))
    // FULL dry run reports it without touching it
    val dry = t.vacuum(retentionHours = 168.0, nowMs = future,
      dryRun = true, full = true)
    assert(dry.contains("data/v00099-crashed-write"))
    assert(fs.exists(orphan))
    // a FRESH orphan (mtime after the cutoff) is an in-flight writer's dir
    // and must survive a FULL pass
    val kept = t.vacuum(retentionHours = 168.0,
      nowMs = System.currentTimeMillis(), full = true)
    assert(fs.exists(orphan))
    assert(!kept.contains("data/v00099-crashed-write"))
    // FULL past the cutoff reclaims it; the head stays intact
    val deleted = t.vacuum(retentionHours = 168.0, nowMs = future, full = true)
    assert(deleted.contains("data/v00099-crashed-write"))
    assert(!fs.exists(orphan))
    assert(t.read().count() === 2)
  }

  test("time travel returns each version under its own schema") {
    val t = GraftTable.create(spark, tmpDir("gt-schema-tt"), seedCustomers)
    t.merge(Seq((7L, "N", "n@x.com", 7.0, "555"))
      .toDF("id", "name", "email", "balance", "phone"), "id")
    // head has the evolved schema; v0 still reads with its original one
    assert(t.read().columns.toSeq === Seq("id", "name", "email", "balance", "phone"))
    assert(t.readVersion(0).columns.toSeq === Seq("id", "name", "email", "balance"))
    assert(t.readVersion(0).count() === 3)
  }

  test("vacuum keeps dirs the restored head references") {
    val t = GraftTable.create(spark, tmpDir("gt-restore-vac"), seedCustomers)
    t.delete($"id" =!= 1L) // v1
    t.restore(0)           // v2 references v0's dirs
    val future = System.currentTimeMillis() + 200L * 3600 * 1000
    t.vacuum(retentionHours = 168.0, nowMs = future)
    // head (the restore) must still read fully even though v0/v1 expired
    assert(t.read().count() === 3)
    intercept[Exception](t.readVersion(1).count())
  }

  test("log checkpoint consolidates history and stays correct as commits continue") {
    val dir = tmpDir("gt-ckpt")
    val t = GraftTable.create(spark, dir, seedCustomers)
    (0 until 3).foreach { i =>
      t.append(Seq((30L + i, s"c$i", s"c$i@x.com", 1.0)).toDF("id", "name", "email", "balance"))
    }
    t.checkpointLog()
    // fresh handle: must see all 4 versions through the checkpoint
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.version === 3)
    assert(t2.history().count() === 4)
    assert(t2.readVersion(1).count() === 4) // 3 seed + first append
    // commits after the checkpoint are the parsed tail
    t2.append(Seq((99L, "z", "z@x.com", 9.0)).toDF("id", "name", "email", "balance"))
    val t3 = GraftTable.forPath(spark, dir)
    assert(t3.version === 4)
    assert(t3.read().count() === 7) // 3 seed + 4 appended
    // a second checkpoint at the new head also works
    t3.checkpointLog()
    assert(GraftTable.forPath(spark, dir).history().count() === 5)
  }

  test("commit log auto-checkpoints on the interval cadence") {
    val dir = tmpDir("gt-autockpt")
    val t = GraftTable.create(spark, dir, seedCustomers) // v0
    (1 to 12).foreach { i =>
      t.append(Seq((100L + i, s"a$i", s"a$i@x.com", 1.0)).toDF("id", "name", "email", "balance"))
    }
    // default interval 10 → versions 10 (and nothing later yet) checkpointed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val ckpts = fs.listStatus(new org.apache.hadoop.fs.Path(dir, CommitLog.LogDirName))
      .map(_.getPath.getName).filter(_.startsWith(CommitLog.CheckpointPrefix))
    assert(ckpts.nonEmpty, "no auto checkpoint written after 12 commits")
    // a cold open reads through the checkpoint + tail
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.version === 12)
    assert(t2.read().count() === (seedCustomers.count() + 12))
    assert(t2.history().count() === 13)
  }

  test("a log entry carrying value tombstones is refused, not read past") {
    val dir = tmpDir("gt-legacy-tomb")
    val t = GraftTable.create(spark, dir, seedCustomers)
    val v0 = t.headCommit.get
    // a DELETE in the retired value-tombstone form: the data dir is
    // unchanged, the deleted rows live only in the tombstone dir
    val legacy = CommitLog.toJson(Commit(1L, v0.tsMs + 1, "DELETE", v0.dataDirs,
      Map("numDeletedRows" -> 1L), v0.schemaJson)).stripSuffix("}") +
      ""","tombstoneDirs":["tombstones/v00001-x"]}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, CommitLog.LogDirName, f"${1L}%020d.json"),
      legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e = intercept[CommitLog.ValueTombstonesRefused] {
      GraftTable.forPath(spark, dir).read().collect()
    }
    assert(e.getMessage.contains(s"version 1 of table $dir"))
    assert(e.getMessage.contains("value tombstones"))
  }

  test("single-writer collision detection") {
    val dir = tmpDir("gt-conflict")
    val t1 = GraftTable.create(spark, dir, seedCustomers)
    val t2 = GraftTable.forPath(spark, dir)
    // Both handles see version 0; writing the same next version must fail
    // for the second writer rather than corrupt.
    t1.append(seedCustomers)
    val log = new CommitLog(dir, spark.sessionState.newHadoopConf())
    val stale = Commit(1L, 0L, "APPEND", Nil, Map.empty, seedCustomers.schema.json)
    intercept[IllegalStateException](log.commit(stale))
    assert(t2.version === 1)
  }

  test("partitioned table: pruning in the scan, partitioning survives mutations") {
    val orders = Seq(
      (1L, "F", 10.0), (2L, "O", 20.0), (3L, "F", 30.0), (4L, "P", 40.0)
    ).toDF("id", "status", "amount")
    val t = GraftTable.create(spark, tmpDir("gt-part"), orders, partitionBy = Seq("status"))

    val scan = t.read().filter($"status" === "F")
    assert(scan.collect().map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 3L))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status"), s"no pruning:\n$plan")

    // merge keeps the partition layout and the data correct
    t.merge(Seq((5L, "F", 50.0), (2L, "O", 25.0)).toDF("id", "status", "amount"), "id")
    assert(t.read().filter($"status" === "F").count() === 3)
    assert(t.read().filter($"id" === 2L).select("amount").as[Double].head() === 25.0)
    // append of a new partition value, then time travel across layouts
    t.append(Seq((6L, "X", 60.0)).toDF("id", "status", "amount"))
    assert(t.read().count() === 6)
    assert(t.readVersion(0).count() === 4)
    // delete an entire partition
    t.delete($"status" === "O")
    assert(t.read().select("status").distinct().as[String].collect().sorted.toSeq
      === Seq("F", "P", "X"))
  }

  test("compactSmall(maxDataDirs) fires only past the dir threshold") {
    val t = GraftTable.create(spark, tmpDir("gt-autocompact"), seedCustomers)
    (0 until 4).foreach { i =>
      t.append(Seq((20L + i, s"a$i", s"a$i@x.com", 1.0)).toDF("id", "name", "email", "balance"))
    }
    assert(t.compactSmall(maxDataDirs = 10).isEmpty) // 5 dirs <= 10
    val c = t.compactSmall(maxDataDirs = 3)
    assert(c.isDefined && c.get.operation === "OPTIMIZE")
    assert(c.get.dataDirs.length === 1)
    assert(t.read().count() === 7)
  }

  test("whereSuperset skips dirs whose stats miss the range") {
    val t = GraftTable.create(spark, tmpDir("gt-skip"),
      Seq((1L, 10.0)).toDF("id", "v").limit(0))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))   // v in [10, 20]
    t.append(Seq((3L, 100.0), (4L, 200.0)).toDF("id", "v")) // v in [100, 200]
    t.append(Seq((5L, 1000.0)).toDF("id", "v"))             // v in [1000, 1000]

    // Range hits only the middle dir: pruning must drop the other two dirs
    // entirely (the rows outside the range never reach the scan).
    val pruned = t.whereSuperset($"v".between(50.0, 500.0))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 4L))
    // Superset contract still needs the precise filter in general:
    val exact = t.whereSuperset($"v".between(150.0, 500.0)).filter($"v" >= 150.0)
    assert(exact.collect().map(_.getLong(0)).toSeq === Seq(4L))
    // Unknown column → conservative full read
    assert(t.whereSuperset($"nope".between(0, 1)).count() === 5)
  }

  test("appendOnce skips replayed batches (exactly-once txn stamp)") {
    val t = GraftTable.create(spark, tmpDir("gt-txn"), seedCustomers)
    val batch = Seq((10L, "S", "s@x.com", 1.0)).toDF("id", "name", "email", "balance")
    assert(t.appendOnce(batch, "writerA", 0L).isDefined)
    assert(t.read().count() === 4)
    // crash-replay of the same batch id: skipped
    assert(t.appendOnce(batch, "writerA", 0L).isEmpty)
    assert(t.read().count() === 4)
    // an OLD batch id from this writer is also a replay
    assert(t.appendOnce(batch, "writerA", -5L).isEmpty)
    // a different writer is independent
    assert(t.appendOnce(batch, "writerB", 0L).isDefined)
    assert(t.read().count() === 5)
    assert(t.lastCommittedBatch("writerA") === Some(0L))
  }

  test("empty-source merge commits cleanly (empty micro-batch)") {
    val t = GraftTable.create(spark, tmpDir("gt-empty"), seedCustomers)
    val c = t.merge(seedCustomers.filter(lit(false)), "id")
    assert(c.metrics("numTargetRowsInserted") === 0)
    assert(t.read().count() === 3)
  }

  test("merge-on-read delete: no rewrite, scoped tombstones, rewrite materializes") {
    val t = GraftTable.create(spark, tmpDir("gt-mor"), seedCustomers)
    val c = t.deletePositional(col("balance") < 150.0) // deletes id=1
    // no data rewritten: still the single CREATE data dir, plus a DV
    assert(c.dataDirs.size === 1 && c.dvDirs.size === 1)
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // time travel still sees the pre-delete snapshot
    assert(t.readVersion(0).count() === 3)
    // CDF carries the delete rows
    val cdf = t.readChanges(c.version, c.version)
    assert(cdf.filter(col("_change_type") === "delete").count() === 1)

    // a row value-identical to a deleted one, appended AFTER the
    // delete, is NOT suppressed (positions name the pre-append files)
    t.append(Seq((1L, "John", "john@x.com", 100.0)).toDF("id", "name", "email", "balance"))
    assert(t.read().count() === 3)
    assert(t.read().filter(col("id") === 1L).count() === 1)
    assert(t.rowCount === 3)

    // second MoR delete stacks; reads stay correct
    t.deletePositional(col("id") === 2L)
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(1L, 3L))

    // any rewrite materializes: DVs cleared, data equal
    val afterOpt = t.optimize()
    assert(afterOpt.dvDirs.isEmpty)
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("maybeMaterialize fires only past the deleted-row ratio") {
    val t = GraftTable.create(spark, tmpDir("gt-morm"), seedCustomers)
    t.append(Seq((4L, "Ann", "ann@x.com", 400.0)).toDF("id", "name", "email", "balance"))
    val Seq(marked, unmarked) = t.headCommit.get.dataDirs
    t.deletePositional(col("id") === 1L) // 1 dead / 3 live = 0.33
    assert(t.maybeMaterialize(maxDeletedRatio = 0.6).isEmpty)
    assert(t.read().count() === 3) // untouched below threshold
    val done = t.maybeMaterialize(maxDeletedRatio = 0.3)
    assert(done.isDefined && done.get.dvDirs.isEmpty)
    // only the DV-marked dir is rewritten; the other stays referenced as is
    assert(!done.get.dataDirs.contains(marked))
    assert(done.get.dataDirs.contains(unmarked))
    assert(t.read().collect().map(_.getLong(0)).toSet === Set(2L, 3L, 4L))
  }

  test("merge-on-read update: tombstone + appended copies, one commit") {
    val t = GraftTable.create(spark, tmpDir("gt-moru"), seedCustomers)
    val c = t.updatePositional(col("id") === 2L, Map("balance" -> lit(999.0)))
    assert(c.dataDirs.size === 2 && c.dvDirs.size === 1) // original + updates
    val rows = t.read().collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows === Map(1L -> 100.0, 2L -> 999.0, 3L -> 300.0))
    // CDF pre/post images
    val cdf = t.readChanges(c.version, c.version)
    assert(cdf.filter(col("_change_type") === "update_preimage").count() === 1)
    assert(cdf.filter(col("_change_type") === "update_postimage").count() === 1)
    // no-op assignment: value-identical copy must survive its own commit
    t.updatePositional(col("id") === 1L, Map("balance" -> lit(100.0)))
    assert(t.read().count() === 3)
    assert(t.read().filter(col("id") === 1L).head().getDouble(3) === 100.0)
    // rewrite materializes everything
    val after = t.optimize()
    assert(after.dvDirs.isEmpty)
    assert(t.read().collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap ===
      Map(1L -> 100.0, 2L -> 999.0, 3L -> 300.0))
  }

  test("shallow clone: zero-copy read equality, independent evolution") {
    val src = GraftTable.create(spark, tmpDir("gt-clone-src"), seedCustomers)
    src.append(Seq((4L, "Ann", "ann@x.com", 400.0)).toDF("id", "name", "email", "balance"))
    val cloneRoot = tmpDir("gt-clone-dst") + "/t"
    val clone = src.shallowClone(cloneRoot)
    // metadata-only: clone reads the source's files
    assert(clone.read().collect().toSet === src.read().collect().toSet)
    assert(clone.history().collect().map(_.getAs[String]("operation")).toSeq === Seq("CLONE"))
    // no data copied under the clone root
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(cloneRoot, "data")))
    // clone evolves independently of the source, both directions
    clone.delete(col("id") === 1L)
    clone.append(Seq((9L, "Zed", "z@x.com", 900.0)).toDF("id", "name", "email", "balance"))
    assert(src.read().count() === 4)
    assert(clone.read().count() === 4) // 4 - 1 deleted + 1 appended
    src.append(Seq((5L, "Eve", "e@x.com", 500.0)).toDF("id", "name", "email", "balance"))
    assert(clone.read().count() === 4)
  }

  test("CHECK constraints: enforced across ops, carried by commits, droppable") {
    val t = GraftTable.create(spark, tmpDir("gt-check"), seedCustomers)
    t.addConstraint("positive_balance", "balance >= 0")
    assert(t.constraints === Map("positive_balance" -> "balance >= 0"))

    // violating append aborts, no commit
    val v0 = t.version
    intercept[IllegalArgumentException] {
      t.append(Seq((7L, "Bad", "b@x.com", -5.0)).toDF("id", "name", "email", "balance"))
    }
    assert(t.version === v0)
    // passing append lands; the constraint survives the new commit
    t.append(Seq((8L, "Ok", "o@x.com", 10.0)).toDF("id", "name", "email", "balance"))
    assert(t.constraints.nonEmpty)

    // merge producing a violating row aborts
    intercept[IllegalArgumentException] {
      t.merge(Seq((8L, "Ok", "o@x.com", -1.0)).toDF("id", "name", "email", "balance"), "id")
    }
    // update violating aborts; NULL predicate result passes (SQL CHECK)
    intercept[IllegalArgumentException] {
      t.update(col("id") === 8L, Map("balance" -> lit(-2.0)))
    }
    t.update(col("id") === 8L, Map("balance" -> lit(null).cast("double")))
    assert(t.read().filter(col("id") === 8L).select("balance").head().isNullAt(0))

    // adding a constraint the snapshot already violates is rejected
    intercept[IllegalArgumentException] {
      t.addConstraint("impossible", "balance > 1000000")
    }
    // drop → the formerly-violating write now lands
    t.dropConstraint("positive_balance")
    assert(t.constraints.isEmpty)
    t.append(Seq((9L, "Neg", "n@x.com", -50.0)).toDF("id", "name", "email", "balance"))
    assert(t.read().count() === 5)
    // the history records the constraint lifecycle
    val ops = t.history().collect().map(_.getAs[String]("operation")).toSeq
    assert(ops.contains("ADD CONSTRAINT") && ops.contains("DROP CONSTRAINT"))
  }

  test("adjusted timestamps keep time travel a prefix; detail and dry-run vacuum") {
    val root = tmpDir("gt-adjts")
    val t = GraftTable.create(spark, root, (1L to 10L).toDF("id"))
    t.append((11L to 20L).toDF("id"))
    val log = new CommitLog(root, spark.sessionState.newHadoopConf())
    val Seq(v0c, v1c) = log.commits()
    // a writer with a skewed clock commits v2 (referencing only v0's
    // dirs) stamped BEFORE v1's wall time
    log.commit(v1c.copy(version = 2L, tsMs = v1c.tsMs - 60000,
      dataDirs = v0c.dataDirs, dirStats = v0c.dirStats, dirNulls = v0c.dirNulls))
    // unadjusted, "as of v1's ts" would resolve to v2 (raw ts is older);
    // adjusted, v2's effective ts is v1.ts + 1, so v1 still wins
    assert(t.readAsOf(v1c.tsMs).count() === 20)
    // history shows the adjusted clock and round-trips through readAsOf
    val hist = t.history().collect()
    val ts2 = hist.find(_.getLong(0) == 2L).get.getTimestamp(1).getTime
    assert(ts2 === v1c.tsMs + 1)
    assert(t.readAsOf(ts2).count() === 10) // v2 references v0's dirs

    // DESCRIBE DETAIL: one metadata row about the head
    val d = t.detail().head()
    assert(d.getAs[String]("format") === "graft")
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[Long]("numFiles") > 0L)
    assert(d.getAs[scala.collection.Seq[String]]("partitionColumns").isEmpty)

    // VACUUM DRY RUN reports exactly what the real run reclaims, touches nothing
    val later = System.currentTimeMillis() + 3600 * 1000
    val dry = t.vacuum(retentionHours = 0.0, nowMs = later, dryRun = true)
    assert(dry.nonEmpty, "v1's unreferenced dir should be reclaimable")
    assert(t.readVersion(1).count() === 20, "dry run must not delete anything")
    val real = t.vacuum(retentionHours = 0.0, nowMs = later)
    assert(real.toSet === dry.toSet)
    assert(t.read().count() === 10) // head (v0's dirs) intact
  }

  test("metadata-only ADD/DROP COLUMN: no rewrite, history intact, names retired") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val root = tmpDir("gt-ddl")
    val t = GraftTable.create(spark, root,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    def files(): Set[String] = t.read().inputFiles.toSet
    val before = files()

    t.addColumn("tag", StringType)
    assert(files() === before, "ADD COLUMN must not rewrite files")
    assert(t.read().schema.fieldNames.toSeq === Seq("id", "x", "tag"))
    assert(t.read().filter(col("tag").isNull).count() === 2)
    t.append(Seq((3L, 30.0, "c")).toDF("id", "x", "tag"))
    assert(t.read().filter(col("tag").isNotNull).count() === 1)

    t.dropColumn("x")
    assert(t.read().schema.fieldNames.toSeq === Seq("id", "tag"))
    assert(t.readVersion(0).schema.fieldNames.toSeq === Seq("id", "x"),
      "time travel still serves the dropped column")
    // the physical name is retired — re-adding would resurrect old bytes
    val e = intercept[IllegalArgumentException] { t.addColumn("x", LongType) }
    assert(e.getMessage.contains("retired"))
    // guards: last column, partition columns, constrained columns
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmpDir("gt-ddl-last"), Seq(1L).toDF("only"))
        .dropColumn("only")
    }
    val p = GraftTable.create(spark, tmpDir("gt-ddl-part"),
      Seq((1L, "a")).toDF("id", "p"), partitionBy = Seq("p"))
    intercept[IllegalArgumentException] { p.dropColumn("p") }
    val c = GraftTable.create(spark, tmpDir("gt-ddl-con"),
      Seq((1L, 5.0)).toDF("id", "bal"))
    c.addConstraint("pos", "bal >= 0")
    intercept[IllegalArgumentException] { c.dropColumn("bal") }
    c.dropConstraint("pos")
    c.dropColumn("bal") // now fine
    assert(c.read().schema.fieldNames.toSeq === Seq("id"))
  }

  test("optimizeWrite coalesces small writes to the byte target at the source") {
    import org.apache.hadoop.fs.Path
    def filesOf(t: GraftTable): Int =
      t.read().select(input_file_name()).distinct().count().toInt
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    try {
      spark.conf.set("spark.graft.optimizeWrite.targetBytes", (512L * 1024 * 1024).toString)
      // a 16-task micro-batch of a few KB lands as ONE file, not 16
      val t = GraftTable.create(spark, tmpDir("gt-ow"), rows(1, 1000).repartition(16))
      assert(filesOf(t) === 1, "tiny create must coalesce to one file")
      t.append(rows(1001, 2000).repartition(16))
      assert(filesOf(t) === 2, "each commit coalesces independently")
      // partitioned: one file per hive partition, not per (task × partition)
      val p = GraftTable.create(spark, tmpDir("gt-ow-part"),
        rows(1, 1000).withColumn("p", pmod(col("id"), lit(2))).repartition(16),
        partitionBy = Seq("p"))
      assert(filesOf(p) <= 2, "partitioned write must land whole partitions per task")
    } finally spark.conf.unset("spark.graft.optimizeWrite.targetBytes")
    // with the conf unset, writes land exactly as the caller partitioned
    val plain = GraftTable.create(spark, tmpDir("gt-ow-off"), rows(1, 1000).repartition(4))
    assert(filesOf(plain) === 4)
  }

  test("schema enforcement: lossy appends rejected, lossless widenings pass") {
    val root = tmpDir("gt-enforce")
    val t = GraftTable.create(spark, root, Seq((1L, 10.0, "a")).toDF("id", "x", "tag"))
    // lossless: Int ids up-cast to the table's Long
    t.append(Seq((2, 20.0, "b")).toDF("id", "x", "tag"))
    assert(t.read().count() === 2)
    // lossy: Double into Long, String into Double — rejected, not nulled
    val e = intercept[IllegalArgumentException] {
      t.append(Seq((3.5, 30.0, "c")).toDF("id", "x", "tag"))
    }
    assert(e.getMessage.contains("schema enforcement"))
    intercept[IllegalArgumentException] {
      t.append(Seq((4L, "not-a-number", "d")).toDF("id", "x", "tag"))
    }
    assert(t.read().count() === 2, "rejected appends must not commit")
    // the documented escape hatch coerces deliberately
    try {
      spark.conf.set("spark.graft.schema.allowLossyCasts", "true")
      t.append(Seq((5.9, 50.0, "e")).toDF("id", "x", "tag"))
      assert(t.read().filter(col("id") === 5L).count() === 1)
    } finally spark.conf.unset("spark.graft.schema.allowLossyCasts")
    // merge enforces the same contract
    intercept[IllegalArgumentException] {
      t.merge(Seq(("oops", 1.0, "f")).toDF("id", "x", "tag"), "id")
    }
  }

  test("generated columns: computed when omitted, validated when provided, recomputed on merge") {
    val root = tmpDir("gt-gen")
    def rows(xs: (Long, String)*) = xs.toSeq.toDF("id", "day")
      .withColumn("ts", to_timestamp(col("day"))).drop("day")
    val t = GraftTable.create(spark, root, rows((1L, "2024-01-15"), (2L, "2024-03-02")),
      Nil, Map("ev_month" -> "month(ts)"), Map.empty)
    assert(t.read().filter(col("ev_month") === 1).count() === 1)
    // omitted on append → engine computes
    t.append(rows((3L, "2024-05-20")))
    assert(t.read().filter(col("id") === 3L && col("ev_month") === 5).count() === 1)
    // provided and consistent → accepted
    t.append(rows((4L, "2024-07-01")).withColumn("ev_month", month(col("ts"))))
    // provided but inconsistent → rejected before any commit
    val e = intercept[IllegalArgumentException] {
      t.append(rows((5L, "2024-08-01")).withColumn("ev_month", lit(99)))
    }
    assert(e.getMessage.contains("generated column"))
    assert(t.read().count() === 4)
    // merge that moves the base column must RECOMPUTE the derived value
    t.merge(rows((1L, "2024-06-30")), "id")
    assert(t.read().filter(col("id") === 1L).select("ev_month").head().getInt(0) === 6)
    // and merge-INSERTED rows get the computed value too
    t.merge(rows((9L, "2024-11-11")), "id")
    assert(t.read().filter(col("id") === 9L).select("ev_month").head().getInt(0) === 11)
  }

  test("identity columns: unique ascending ids across appends; rebase over a concurrent allocation") {
    val root = tmpDir("gt-ident")
    val t = GraftTable.create(spark, root, Seq("a", "b", "c").toDF("tag"),
      Nil, Map.empty, Map("rid" -> (100L, 2L)))
    def ids(g: GraftTable): Seq[Long] =
      g.read().select("rid").collect().toSeq.map(_.getLong(0))
    val ids0 = ids(t)
    assert(ids0.size === 3 && ids0.distinct.size === 3)
    assert(ids0.forall(_ >= 100L), s"ids below start: $ids0")
    // appended rows allocate strictly above the committed watermark
    t.append(Seq("d", "e").toDF("tag"))
    val ids1 = ids(t)
    assert(ids1.distinct.size === 5)
    assert((ids1.toSet -- ids0.toSet).forall(_ > ids0.max))
    // caller-provided ids are kept verbatim (BY DEFAULT semantics)
    t.append(Seq((424242L, "f")).toDF("rid", "tag"))
    assert(ids(t).contains(424242L))
    // NULL id cells are treated as omitted and filled
    t.append(Seq(("g", Option.empty[Long])).toDF("tag", "rid"))
    assert(ids(t).size === 7 && ids(t).distinct.size === 7)

    // RACE: a concurrent append allocates between our write and commit —
    // the rebase must re-assign above the moved watermark, never collide
    val t2 = GraftTable.forPath(spark, root)
    t.beforeCommitHook = () => {
      t2.append(Seq("x", "y", "z").toDF("tag"))
      t.beforeCommitHook = () => ()
    }
    t.append(Seq("h", "i").toDF("tag"))
    val finalIds = ids(t)
    assert(finalIds.size === 12, s"lost rows under race: $finalIds")
    assert(finalIds.distinct.size === 12, s"identity collision under race: $finalIds")
  }

  test("symlink manifest: external plain-parquet read equals the snapshot; MoR state refused") {
    val root = tmpDir("gt-manifest")
    val t = GraftTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    t.append(Seq((3L, "c")).toDF("id", "tag"))
    val m = t.generateManifest()
    def externalRead() = {
      val paths = spark.read.textFile(m.toString).collect().toSeq.filter(_.nonEmpty)
      spark.read.parquet(paths: _*)
    }
    assert(externalRead().select("id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    // manifests are snapshots: regenerate after OPTIMIZE, still equal
    t.optimize()
    t.generateManifest()
    assert(externalRead().count() === 3)
    // pending merge-on-read deletes cannot be expressed as a path listing
    t.deletePositional(col("id") === 2L)
    val e = intercept[IllegalArgumentException] { t.generateManifest() }
    assert(e.getMessage.contains("merge-on-read"))
    // materializing the deletes makes it expressible again
    t.materializeDeletes()
    t.generateManifest()
    assert(externalRead().count() === 2)
  }

  test("reorg purges dropped-column bytes and lifts the name retirement") {
    import org.apache.spark.sql.types.StringType
    val root = tmpDir("gt-reorg")
    val t = GraftTable.create(spark, root,
      Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "tag", "v"))
    t.dropColumn("tag")
    def physicalCols(): Set[String] = t.headCommit.get.dataDirs.flatMap { d =>
      spark.read.parquet(new org.apache.hadoop.fs.Path(root, d).toString)
        .schema.fieldNames
    }.toSet
    // metadata-only drop: the bytes still sit in the files, the name is retired
    assert(physicalCols().contains("tag"))
    intercept[IllegalArgumentException] { t.addColumn("tag", StringType) }
    t.reorg()
    // physical purge: bytes gone, rows intact, retirement lifted
    assert(!physicalCols().contains("tag"))
    assert(t.read().count() === 2)
    t.addColumn("tag", StringType)
    assert(t.read().filter(col("tag").isNull).count() === 2)
    // reorg also folds merge-on-read state
    t.deletePositional(col("id") === 1L)
    t.reorg()
    assert(t.headCommit.get.dvDirs.isEmpty && t.read().count() === 1)
  }

  test("renameColumn: one explicit rewrite, values preserved, guards hold") {
    import org.apache.spark.sql.types.StringType
    val root = tmpDir("gt-rename")
    val t = GraftTable.create(spark, root,
      Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "tag", "v"))
    t.renameColumn("tag", "label")
    assert(t.read().columns.toSeq === Seq("id", "label", "v"))
    assert(t.read().filter(col("id") === 1L).select("label").head().getString(0) === "x")
    // the old name is immediately reusable (every live file was rewritten)
    t.addColumn("tag", StringType)
    assert(t.read().filter(col("tag").isNull).count() === 2)
    // a CHECK constraint referencing the column blocks its rename
    t.addConstraint("v_pos", "v > 0")
    val e = intercept[IllegalArgumentException] { t.renameColumn("v", "value") }
    assert(e.getMessage.contains("referenced by"))
    t.dropConstraint("v_pos")
    t.renameColumn("v", "value")
    assert(t.read().columns.contains("value"))
    // time travel still serves the pre-rename schema
    assert(t.readVersion(0).columns.toSeq === Seq("id", "tag", "v"))
  }

  test("renameColumnMetadataOnly: no rewrite, reads/writes/CDF map names, guards hold") {
    import org.apache.spark.sql.types.StringType
    val root = tmpDir("gt-renamemo")
    val t = GraftTable.create(spark, root,
      Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("id", "tag", "v"))
    val dirsBefore = t.headCommit.get.dataDirs
    t.renameColumnMetadataOnly("tag", "label")
    // metadata-only: the same data dirs, no rewrite
    assert(t.headCommit.get.dataDirs === dirsBefore)
    assert(t.read().columns.toSeq === Seq("id", "label", "v"))
    assert(t.read().filter(col("id") === 1L).select("label").head().getString(0) === "x")
    // time travel serves the pre-rename logical schema from the SAME files
    assert(t.readVersion(0).columns.toSeq === Seq("id", "tag", "v"))
    // appends after the rename land under the physical name and read back
    t.append(Seq((3L, "z", 30.0)).toDF("id", "label", "v"))
    assert(t.read().filter(col("id") === 3L).select("label").head().getString(0) === "z")
    // ...and the on-disk name really is the physical one
    val physCols = spark.read
      .parquet(new org.apache.hadoop.fs.Path(root, t.headCommit.get.dataDirs.last).toString)
      .schema.fieldNames.toSeq
    assert(physCols.contains("tag") && !physCols.contains("label"))
    // predicate mutations + MoR see logical names
    t.deletePositional(col("label") === "y")
    assert(t.read().select("label").as[String].collect().sorted.toSeq === Seq("x", "z"))
    // CDF across the rename boundary serves the LATEST logical name
    val cdf = t.readChanges(0L)
    assert(cdf.columns.contains("label") && !cdf.columns.contains("tag"))
    assert(cdf.filter(col("_change_type") === "delete")
      .select("label").head().getString(0) === "y")
    // skipping stats traveled with the rename (logical keys)
    assert(t.headCommit.get.dirStats.values.exists(_.contains("v")))
    // guards: the physical name is claimed — neither addColumn nor a
    // second rename may take it
    intercept[IllegalArgumentException] { t.addColumn("tag", StringType) }
    intercept[IllegalArgumentException] { t.renameColumnMetadataOnly("v", "tag") }
    // appends must not EVOLVE a column under the claimed physical name
    intercept[IllegalArgumentException] {
      t.append(Seq((4L, "w", 1.0, "boom")).toDF("id", "label", "v", "tag"))
    }
    // renaming BACK to the physical name is always legal (mapping clears)
    t.renameColumnMetadataOnly("label", "tag")
    assert(t.read().columns.toSeq === Seq("id", "tag", "v"))
    assert(t.headCommit.get.properties.keys.forall(!_.startsWith("graft.colmap.")))
    // rename-over-rename: a→b then b→c keeps pointing at the birth name
    t.renameColumnMetadataOnly("tag", "t2")
    t.renameColumnMetadataOnly("t2", "t3")
    assert(t.read().select("t3").as[String].collect().sorted.toSeq === Seq("x", "z"))
    // full rewrite folds the mapping state through writeData (physical
    // names persist; logical view unchanged)
    t.optimize()
    assert(t.read().columns.toSeq === Seq("id", "t3", "v"))
    assert(t.read().select("t3").as[String].collect().sorted.toSeq === Seq("x", "z"))
  }

  test("widenColumnType: metadata-only, mixed-width files read wide, guards hold") {
    import org.apache.spark.sql.types._
    val root = tmpDir("gt-widen")
    val t = GraftTable.create(spark, root,
      Seq((1, "a", 1.5f), (2, "b", 2.5f), (3, "d", 4.5f)).toDF("k", "tag", "x"))
    // a PRE-widen mutation: its _changes dir carries the narrow int type
    t.delete(col("k") === 3)
    val dirsBefore = t.headCommit.get.dataDirs
    t.widenColumnType("k", LongType)
    t.widenColumnType("x", DoubleType)
    // metadata-only: same data dirs, no rewrite
    assert(t.headCommit.get.dataDirs === dirsBefore)
    assert(t.read().schema("k").dataType === LongType)
    // values beyond int range land in new (wide) files; old int files
    // widen at scan — one frame over mixed physical widths
    t.append(Seq((5000000000L, "c", 3.5)).toDF("k", "tag", "x"))
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 5000000000L))
    assert(t.read().filter(col("k") === 1L).select("x").head().getDouble(0) === 1.5)
    // time travel serves the pre-widen schema from the same files
    assert(t.readVersion(0).schema("k").dataType === IntegerType)
    // CDF spanning the boundary plans the WIDE type over mixed-width
    // change files: the pre-widen delete's int rows and the post-widen
    // insert's long rows come back in one long-typed feed
    val cdf = t.readChanges(0L)
    assert(cdf.schema("k").dataType === LongType)
    assert(cdf.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSeq === Seq(3L))
    assert(cdf.filter(col("_change_type") === "insert")
      .select("k").as[Long].collect().sorted.toSeq === Seq(5000000000L))
    // history recorded under the physical name, one entry per widen
    val hist = t.headCommit.get.properties("graft.typeChange.k")
    assert(hist.contains(""""fromType":"integer"""") &&
      hist.contains(""""toType":"long""""))
    // MoR delete across mixed widths (the predicate reads the wide type)
    t.deletePositional(col("k") === 2L)
    assert(t.read().select("k").as[Long].collect().sorted.toSeq ===
      Seq(1L, 5000000000L))
    // second widen on the same column appends to the history
    t.widenColumnType("k", DecimalType(21, 0))
    val hist2 = t.headCommit.get.properties("graft.typeChange.k")
    assert(hist2.contains(""""toType":"decimal(21,0)"""") &&
      hist2.contains(""""toType":"long""""))
    assert(t.read().select("k").as[java.math.BigDecimal].collect()
      .map(_.longValueExact()).sorted.toSeq === Seq(1L, 5000000000L))
    // guards: narrowing, unknown column, partition column, references
    intercept[IllegalArgumentException] { t.widenColumnType("k", LongType) }
    intercept[IllegalArgumentException] { t.widenColumnType("nope", LongType) }
    t.addConstraint("x_pos", "x > 0")
    intercept[IllegalArgumentException] { t.widenColumnType("x", DecimalType(38, 10)) }
    t.dropConstraint("x_pos")
    val pt = GraftTable.create(spark, tmpDir("gt-widen-part"),
      Seq((1, "a")).toDF("k", "tag"), Seq("k"))
    intercept[IllegalArgumentException] { pt.widenColumnType("k", LongType) }
    // full rewrite materializes the wide type on disk
    t.materializeDeletes()
    t.optimize()
    assert(t.read().select("k").as[java.math.BigDecimal].collect()
      .map(_.longValueExact()).sorted.toSeq === Seq(1L, 5000000000L))
  }

  test("widenColumnType drops bloom sidecars (narrow-type hashes are stale)") {
    import org.apache.spark.sql.types._
    val root = tmpDir("gt-widen-bloom")
    val t = GraftTable.create(spark, root,
      (1 to 1000).map(i => (i, i * 1.0)).toDF("id", "v"))
    t.append((1001 to 2000).map(i => (i, i * 1.0)).toDF("id", "v"))
    t.buildBloomIndex("id")
    assert(new java.io.File(s"$root/_bloom/id").exists())
    t.widenColumnType("id", LongType)
    // sidecars hashed xxhash64(int); a long needle would false-negative
    assert(!new java.io.File(s"$root/_bloom/id").exists())
    // un-indexed lookup stays correct (conservative: all dirs kept)
    assert(t.where(col("id") === 1500L).count() === 1)
    // a rebuild under the wide type serves wide needles
    t.buildBloomIndex("id")
    assert(t.where(col("id") === 1500L).count() === 1)
  }

  test("widen then rename: history keyed by birth-stable physical name") {
    import org.apache.spark.sql.types._
    val t = GraftTable.create(spark, tmpDir("gt-widen-ren"),
      Seq((1, "a")).toDF("k", "tag"))
    t.widenColumnType("k", LongType)
    t.renameColumnMetadataOnly("k", "key")
    assert(t.headCommit.get.properties.contains("graft.typeChange.k"))
    t.widenColumnType("key", DecimalType(21, 0))
    // both widens share the physical key — one history, two entries
    val hist = t.headCommit.get.properties("graft.typeChange.k")
    assert(hist.contains("long") && hist.contains("decimal(21,0)"))
    assert(!t.headCommit.get.properties.contains("graft.typeChange.key"))
    assert(t.read().select("key").as[java.math.BigDecimal].head()
      .longValueExact() === 1L)
  }

  test("deep clone: independent copy; constraints and identity watermark travel") {
    val root = tmpDir("gt-deep")
    val t = GraftTable.create(spark, root, Seq("a", "b").toDF("tag"),
      Nil, Map.empty, Map("rid" -> (1L, 1L)))
    t.addConstraint("tag_nn", "tag IS NOT NULL")
    val clone = t.deepClone(tmpDir("gt-deep-clone"))
    assert(clone.read().count() === 2)
    // the constraint traveled with the clone
    intercept[IllegalArgumentException] {
      clone.append(Seq(Option.empty[String]).toDF("tag"))
    }
    // the identity watermark traveled: clone appends allocate above it
    val srcMax = t.read().agg(max("rid")).head().getLong(0)
    clone.append(Seq("c").toDF("tag"))
    val cloneIds = clone.read().select("rid").collect().map(_.getLong(0))
    assert(cloneIds.distinct.length === 3)
    assert(cloneIds.max > srcMax)
    // fully independent lifecycles: source commits don't reach the clone
    t.append(Seq("z").toDF("tag"))
    assert(clone.read().count() === 3 && t.read().count() === 3)
  }

  test("compactSmall folds only the small tail; mature dirs survive untouched") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("gt-binpack")
    // one "mature" dir (big row count) + three tiny streaming-style appends
    val t = GraftTable.create(spark, root, (1L to 50000L).map(i => (i, i * 1.0)).toDF("id", "x"))
    (0 until 3).foreach { k =>
      t.append(((50001L + k * 10) to (50010L + k * 10)).map(i => (i, i * 1.0)).toDF("id", "x"))
    }
    val bigDir = t.headCommit.get.dataDirs.head
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val bigMtimes = fs.listStatus(new Path(root, bigDir)).map(s => s.getPath.getName -> s.getModificationTime).toMap

    val smallBytes = fs.getContentSummary(new Path(root, t.headCommit.get.dataDirs.last)).getLength
    val c = t.compactSmall(smallDirBytes = smallBytes * 10).get
    assert(c.dataDirs.size === 2, "big dir + one folded dir")
    assert(c.dataDirs.contains(bigDir), "the mature dir must survive")
    assert(fs.listStatus(new Path(root, bigDir)).map(s => s.getPath.getName -> s.getModificationTime).toMap
      === bigMtimes, "the mature dir must be byte-untouched")
    assert(t.read().count() === 50030)
    // nothing left to fold → no empty commit
    assert(t.compactSmall(smallDirBytes = smallBytes * 10).isEmpty)
    // a single small dir is not worth a commit either
    t.append(Seq((99999L, 1.0)).toDF("id", "x"))
    assert(t.compactSmall(smallDirBytes = 10L).isEmpty)
  }

  test("autoCompact folds accreted dirs after appends when configured") {
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    try {
      spark.conf.set("spark.graft.autoCompact.maxDirs", "3")
      val t = GraftTable.create(spark, tmpDir("gt-ac"), rows(1, 100))
      (1 to 5).foreach(k => t.append(rows(k * 100 + 1, k * 100 + 100)))
      // without the hook this table would have 6 dirs
      assert(t.headCommit.get.dataDirs.size <= 3,
        s"autoCompact should bound dirs, got ${t.headCommit.get.dataDirs.size}")
      assert(t.read().count() === 600)
      assert(t.read().agg(sum("id")).head().getLong(0) === (1L to 600L).sum)
    } finally spark.conf.unset("spark.graft.autoCompact.maxDirs")
    // unset: appends accrete dirs as before
    val plain = GraftTable.create(spark, tmpDir("gt-ac-off"), rows(1, 100))
    plain.append(rows(101, 200)); plain.append(rows(201, 300))
    assert(plain.headCommit.get.dataDirs.size === 3)
  }

  test("convert upgrades a plain parquet dir in place: rename, stats, full surface") {
    import org.apache.hadoop.fs.Path
    val root = tmpDir("gt-convert") + "/legacy"
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    rows(1, 1000).repartition(3).write.parquet(root)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val legacyFiles = fs.listStatus(new Path(root))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.getName).toSet

    val t = GraftTable.convert(spark, root)
    assert(t.version === 0L)
    assert(t.read().count() === 1000)
    // the SAME files, moved not copied
    val servedFiles = t.read().select(input_file_name()).distinct()
      .collect().map(r => new Path(r.getString(0)).getName).toSet
    assert(servedFiles === legacyFiles, "convert must rename the legacy files, not rewrite them")
    // footer stats were harvested: the converted dir is immediately prunable
    assert(t.skippingStats().select("rows").head().getLong(0) === 1000L)
    // the full mutation surface works on the converted table
    t.append(rows(1001, 2000))
    assert(t.read().count() === 2000)
    assert(t.readVersion(0).count() === 1000)
    t.deletePositional(col("id") === 5L)
    assert(t.read().count() === 1999)
    // converting twice is refused
    val e = intercept[IllegalArgumentException] { GraftTable.convert(spark, root) }
    assert(e.getMessage.contains("already exists"))
    // partitioned legacy layouts are refused, not corrupted
    val proot = tmpDir("gt-convert-part") + "/legacy"
    rows(1, 100).withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(proot)
    val pe = intercept[IllegalArgumentException] { GraftTable.convert(spark, proot) }
    assert(pe.getMessage.contains("partitioned layouts"))
  }

  test("CDF over many appends plans ONE scan per schema, stamps per commit") {
    val t = GraftTable.create(spark, tmpDir("gt-cdf-many"),
      Seq((0L, "v0")).toDF("id", "s"))
    (1L to 25L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "s")))
    val cdf = t.readChanges(1) // CREATE outside the feed; 25 synthesized
    // a month-long stream is tens of thousands of appends: the feed must
    // NOT plan a relation per commit
    val scans = "FileScan parquet|Scan parquet".r
      .findAllIn(cdf.queryExecution.executedPlan.toString).size
    assert(scans === 1, "expected one batched scan for the appends")
    val rows = cdf.select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(rows === (1L to 25L).map(i => (i, "insert", i)).toSet)
    // every row carries a real (non-null) commit timestamp
    assert(cdf.filter(col("_commit_timestamp").isNull).count() === 0L)
  }

  test("shallow clone: clone vacuum never reclaims the source's files") {
    val src = GraftTable.create(spark, tmpDir("gt-clvac-src"), seedCustomers)
    val clone = src.shallowClone(tmpDir("gt-clvac-dst") + "/t")
    // age the clone-commit out: append (new head), then vacuum with zero
    // retention — v0's external dir references must survive
    clone.delete(col("id") === 1L) // rewrite: clone's head no longer needs source dirs
    val deleted = clone.vacuum(retentionHours = 0.0,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    assert(deleted.isEmpty, s"clone vacuum deleted: $deleted")
    assert(src.read().count() === 3) // source intact
  }

  test("delta.appendOnly refuses row mutation; appends and OPTIMIZE stay legal") {
    import spark.implicits._
    val root = tmpDir("append-only")
    val t = GraftTable.createWithProperties(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      Map("delta.appendOnly" -> "true"))
    // the allowed surface
    t.append(Seq((3L, "c")).toDF("k", "s"))
    t.optimize()
    t.addColumn("note", org.apache.spark.sql.types.StringType)
    assert(t.read().count() === 3)
    // every row-mutating operation refuses with the property named
    def refused(op: => Any): Unit = {
      val e = intercept[UnsupportedOperationException](op)
      assert(e.getMessage.contains("append-only"))
    }
    refused(t.delete(col("k") === 1L))
    refused(t.deletePositional(col("k") === 1L))
    refused(t.deleteKeys(Seq(1L).toDF("k"), "k"))
    refused(t.deleteKeysPositional(Seq(1L).toDF("k"), "k"))
    refused(t.update(col("k") === 1L, Map("s" -> lit("x"))))
    refused(t.updatePositional(col("k") === 1L, Map("s" -> lit("x"))))
    refused(t.merge(Seq((1L, "z", "n")).toDF("k", "s", "note"), "k"))
    refused(t.mergeClauses(Seq((1L, "z", "n")).toDF("k", "s", "note"), "k",
      matched = Seq(graft.table.MergeClause.UpdateAll())))
    refused(t.overwrite(Seq((9L, "q", "n")).toDF("k", "s", "note")))
    refused(t.replaceWhere(Seq((9L, "q", "n")).toDF("k", "s", "note"),
      col("k") > 0L))
    refused(t.restore(0L))
    // insert-only MERGE appends rows — legal, as in Delta
    t.mergeClauses(Seq((7L, "g", "n")).toDF("k", "s", "note"), "k",
      notMatched = Seq(graft.table.MergeClause.InsertAll()))
    assert(t.read().count() === 4)
    // the documented escape hatch: unset, then mutate
    t.unsetProperties(Seq("delta.appendOnly"))
    t.delete(col("k") === 1L)
    assert(t.read().count() === 3)
  }

  test("positional MERGE writes what a k-key batch changes, whatever the table's size") {
    import graft.table.MergeClause
    // 5 updates, 3 deletes, 2 inserts
    val batch = ((1L to 5L).map(i => (i, i * 10.0, "u")) ++
      (6L to 8L).map(i => (i, 0.0, "d")) ++
      Seq((1000001L, 1.0, "u"), (1000002L, 2.0, "u"))).toDF("id", "v", "op")
    def applyTo(n: Long): (GraftTable, Map[String, Long]) = {
      val t = GraftTable.create(spark, tmpDir(s"gt-posmerge-$n"),
        (1L to n).map(i => (i, i.toDouble)).toDF("id", "v"))
      t.mergeClausesPositional(batch, Seq("id"), None,
        matched = Seq(MergeClause.Delete(Some(col("s.op") === "d")),
          MergeClause.Update(Map("v" -> col("s.v")))),
        notMatched = Seq(MergeClause.Insert(Map("id" -> col("s.id"), "v" -> col("s.v")))))
      val h = t.history().filter(col("version") === t.version).head()
      assert(h.getAs[String]("operation") === "MERGE")
      (t, h.getMap[String, Long](h.fieldIndex("operationMetrics")).toMap)
    }
    val (small, ms) = applyTo(200L)
    val (large, ml) = applyTo(2000L)
    assert(ms("numOutputRows") === 7L) // the post-images and the inserts, nothing else
    assert(ml("numOutputRows") === ms("numOutputRows"))
    for (m <- Seq(ms, ml)) {
      assert(m("numTargetRowsUpdated") === 5L && m("numTargetRowsDeleted") === 3L &&
        m("numTargetRowsInserted") === 2L && m("mergeOnRead") === 1L)
    }
    for ((t, n) <- Seq(small -> 200L, large -> 2000L)) {
      assert(t.headCommit.get.dvDirs.size === 1 && t.headCommit.get.dataDirs.size === 2)
      assert(t.read().count() === n - 3 + 2)
      assert(t.read().filter(col("id") <= 8L).orderBy("id").as[(Long, Double)]
        .collect().toSeq === (1L to 5L).map(i => (i, i * 10.0)))
    }
  }

  test("positional MERGE joins a target too large to broadcast at full parallelism") {
    import graft.table.MergeClause
    val t = GraftTable.create(spark, tmpDir("gt-posmerge-smj"),
      (1L to 400L).map(i => (i, i.toDouble)).toDF("id", "v"))
    val batch = Seq((3L, 30.0, "u"), (4L, 0.0, "d"), (1000L, 1.0, "u")).toDF("id", "v", "op")
    // Every target is above a one-byte broadcast threshold, so the target is
    // shuffled into a sort-merge join; with coalescing off its stage keeps
    // one task per shuffle partition, as a target of many partitions' worth
    // of bytes would.
    val confs = Map("spark.sql.autoBroadcastJoinThreshold" -> "1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val sc = spark.sparkContext
    val group = s"posmerge-smj-${System.nanoTime()}"
    val joinStageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group) &&
            e.stageInfo.rddInfos.exists(_.name == "ZippedPartitionsRDD2"))
          joinStageTasks.add(e.stageInfo.numTasks)
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group + "-marker"))
          markerSeen.countDown()
    }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "positional merge")
      t.mergeClausesPositional(batch, Seq("id"), None,
        matched = Seq(MergeClause.Delete(Some(col("s.op") === "d")),
          MergeClause.Update(Map("v" -> col("s.v")))),
        notMatched = Seq(MergeClause.Insert(Map("id" -> col("s.id"), "v" -> col("s.v")))))
      sc.setJobGroup(group + "-marker", "marker")
      spark.range(1L).count()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    import scala.jdk.CollectionConverters._
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(joinStageTasks.asScala.toSeq.nonEmpty &&
      joinStageTasks.asScala.forall(_ == partitions), joinStageTasks.asScala.toSeq)
    // the join's source-sized output still lands as one file per dir
    val head = t.headCommit.get
    val fs = new org.apache.hadoop.fs.Path(t.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (d <- head.dvDirs ++ head.dataDirs.filterNot(_.contains("v00000")))
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(t.root, d))
        .count(_.getPath.getName.endsWith(".parquet")) === 1, d)
    assert(t.read().count() === 400L)
    assert(t.read().filter(col("id").isin(3L, 4L, 1000L)).orderBy("id").as[(Long, Double)]
      .collect().toSeq === Seq((3L, 30.0), (1000L, 1.0)))
  }

  test("positional MERGE: no change publishes nothing; insert-only is legal when append-only") {
    import graft.table.MergeClause
    val t = GraftTable.createWithProperties(spark, tmpDir("gt-posmerge-noop"),
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Map("delta.appendOnly" -> "true"))
    val head = t.headCommit.get
    val root = new org.apache.hadoop.fs.Path(t.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(sub: String): Int = {
      val p = new org.apache.hadoop.fs.Path(root, sub)
      if (fs.exists(p)) fs.listStatus(p).length else 0
    }
    val before = (dirs("data"), dirs("dvs"), dirs("_changes"))
    // a matched row no clause claims and a source row no clause inserts
    val c = t.mergeClausesPositional(Seq((1L, "z")).toDF("k", "s"), Seq("k"), None,
      notMatched = Seq(MergeClause.InsertAll(Some(col("s.s") =!= "z"))))
    assert(c === head && t.version === head.version)
    assert((dirs("data"), dirs("dvs"), dirs("_changes")) === before) // staging reaped
    // inserts append: legal on an append-only table, as in Delta
    t.mergeClausesPositional(Seq((1L, "z"), (3L, "c")).toDF("k", "s"), Seq("k"), None,
      notMatched = Seq(MergeClause.InsertAll()))
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(t.headCommit.get.dvDirs.isEmpty)
    val e = intercept[UnsupportedOperationException](
      t.mergeClausesPositional(Seq((1L, "z")).toDF("k", "s"), Seq("k"), None,
        matched = Seq(MergeClause.UpdateAll())))
    assert(e.getMessage.contains("append-only"))
  }
}
