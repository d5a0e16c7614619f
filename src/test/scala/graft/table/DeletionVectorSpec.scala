package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Positional deletion vectors (Delta DV parity): deletes record
  * (file, row_index) pairs, reads subtract them with a per-file position
  * FILTER — the read plan of a bitmap-only delete must contain NO join —
  * and every versioned-table semantic (CDF, time travel, rebase,
  * materialization, vacuum) composes with them. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("positional delete: correct rows, NO join in the read plan, CDF emitted") {
    val seed = (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-basic"), seed)
    val c = t.deletePositional(col("id") % 10 === 0)
    assert(c.metrics("numDeletedRows") === 10)
    assert(c.metrics("mergeOnRead") === 1)
    val read = t.read()
    assert(read.count() === 90)
    assert(read.filter(col("id") % 10 === 0).count() === 0)
    // the DV read path is a filter, not a join
    assert(!planOf(read).contains("Join"), s"join in DV read plan:\n${planOf(read)}")
    // CDF carries the deleted rows at the committed version
    val ch = t.readChanges(c.version, c.version)
    assert(ch.filter(col("_change_type") === "delete").count() === 10)
    assert(ch.select("_commit_version").distinct().head().getLong(0) === c.version)
    // time travel before the delete still sees every row
    assert(t.readVersion(c.version - 1).count() === 100)
    // footer-level row count reflects the subtraction without a scan
    assert(t.rowCount === 90)
  }

  test("deletes accumulate; a re-delete of the same predicate is a no-op") {
    val seed = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val t = GraftTable.create(spark, tmpDir("dv-accum"), seed)
    t.deletePositional(col("id") <= 10)
    val c2 = t.deletePositional(col("id") <= 20) // 10 already gone
    assert(c2.metrics("numDeletedRows") === 10)
    assert(t.read().count() === 30)
    val c3 = t.deletePositional(col("id") <= 20) // nothing left to delete
    assert(c3.metrics("numDeletedRows") === 0)
    assert(t.read().count() === 30)
  }

  test("rebase over concurrent append keeps snapshot semantics and final-version CDF") {
    val seed = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-rebase"), seed)
    val stale = t.headCommit.get
    t.append(Seq((2L, 999.0)).toDF("id", "x")) // matching id, appended later
    val c = t.deletePositionalFrom(stale, col("id") === 2L)
    assert(c.version === stale.version + 2)
    // original id=2 deleted; the concurrently appended one survives
    val rows = t.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 10.0), (3L, 30.0), (2L, 999.0)))
    // CDF stamped at the version that actually committed
    val ch = t.readChanges(c.version, c.version).select("_commit_version").collect()
    assert(ch.nonEmpty && ch.forall(_.getLong(0) === c.version))
    // a concurrent REWRITE aborts
    val stale2 = t.headCommit.get
    t.update(col("id") === 1L, Map("x" -> lit(11.0)))
    intercept[ConcurrentWriteException] {
      t.deletePositionalFrom(stale2, col("id") === 3L)
    }
    assert(t.read().count() === 3)
  }

  test("dvEntryCache stays bounded across many DV states (LRU eviction)") {
    val seed = (1L to 400L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-cachebound"), seed)
    // tiny budget: at most ~40 cached positions total
    spark.conf.set("spark.graft.dv.cacheMaxEntries", "40")
    try {
      // 12 distinct DV states, ~10 new positions each; every read caches
      // the head state's full (accumulated) entry map
      (0 until 12).foreach { i =>
        t.deletePositional(col("id") >= i * 10 + 1 && col("id") <= i * 10 + 10)
        assert(t.read().count() === 400 - (i + 1) * 10)
      }
      val (states, entries) = t.dvCacheStats
      // the newest state alone may exceed the budget (always retained);
      // everything older must have been evicted
      assert(states <= 2, s"cache holds $states DV states")
      assert(entries <= math.max(40L, 120L), s"cache holds $entries positions")
      // correctness unaffected by eviction: evicted states rebuild on demand
      assert(t.readVersion(3).count() === 370)
      assert(t.read().count() === 280)
    } finally spark.conf.unset("spark.graft.dv.cacheMaxEntries")
  }

  test("strict positional delete aborts iff a concurrent append matches") {
    val seed = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-strict"), seed)
    val stale = t.headCommit.get
    t.append(Seq((2L, 999.0)).toDF("id", "x"))
    intercept[ConcurrentWriteException] {
      t.deletePositionalFrom(stale, col("id") === 2L, strict = true)
    }
    assert(t.read().count() === 3)
    val stale2 = t.headCommit.get
    t.append(Seq((9L, 90.0)).toDF("id", "x"))
    val c = t.deletePositionalFrom(stale2, col("id") === 1L, strict = true)
    assert(c.version === stale2.version + 2)
    // id=1 gone; both id=2 rows and the id=9 append remain
    assert(t.read().count() === 3)
    assert(t.read().filter(col("id") === 1L).isEmpty)
  }

  test("snapshot rewrite materializes the subtraction and clears DVs") {
    val seed = (1L to 40L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-mat"), seed)
    t.deletePositional(col("id") > 30)
    assert(t.headCommit.get.dvDirs.nonEmpty)
    t.optimize()
    assert(t.headCommit.get.dvDirs.isEmpty, "rewrite must clear DVs")
    assert(t.read().count() === 30)
    assert(!planOf(t.read()).contains("Join"))
  }

  test("maybeMaterialize counts DV positions toward the rewrite trigger") {
    val seed = (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-ratio"), seed)
    t.deletePositional(col("id") <= 5)
    assert(t.maybeMaterialize(maxDeletedRatio = 0.2).isEmpty) // 5/95 below
    t.deletePositional(col("id") <= 30)
    assert(t.maybeMaterialize(maxDeletedRatio = 0.2).isDefined) // 30/70 above
    assert(t.headCommit.get.dvDirs.isEmpty)
    assert(t.read().count() === 70)
  }

  test("oversized DV falls back to the anti-join path with identical results") {
    val seed = (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-fallback"), seed)
    t.deletePositional(col("id") % 3 === 0)
    val inline = t.read().select("id").collect().map(_.getLong(0)).toSet
    spark.conf.set("spark.graft.dv.inlineMaxEntries", "0")
    try {
      val joined = t.read()
      assert(planOf(joined).contains("Join"), "fallback path should anti-join")
      assert(joined.select("id").collect().map(_.getLong(0)).toSet === inline)
    } finally spark.conf.unset("spark.graft.dv.inlineMaxEntries")
  }

  test("DVs compose with hive-partitioned tables and stack") {
    val seed = (1L to 60L).map(i => (i, if (i % 2 == 0) "A" else "B", i * 1.0))
      .toDF("id", "status", "x")
    val t = GraftTable.create(spark, tmpDir("dv-part"), seed, partitionBy = Seq("status"))
    t.deletePositional(col("id") <= 10)
    assert(t.read().count() === 50)
    // a second DV stacked on the first
    t.deletePositional(col("id") > 55)
    assert(t.read().count() === 45)
    assert(t.read().filter(col("id") <= 10 || col("id") > 55).count() === 0)
    // partition pruning still works through the DV filter
    assert(t.read().filter(col("status") === "A").count() ===
      (11 to 55).count(_ % 2 == 0))
  }

  test("positional update: DV + appended copies in one commit, no join, CDF pre/post") {
    val seed = (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-upd"), seed)
    val c = t.updatePositional(col("id") <= 5, Map("x" -> (col("x") + 1000.0)))
    assert(c.metrics("numUpdatedRows") === 5)
    val read = t.read()
    assert(read.count() === 30)
    assert(read.filter(col("id") <= 5 && col("x") < 1000.0).count() === 0)
    assert(read.filter(col("x") > 1000.0).count() === 5)
    assert(!planOf(read).contains("Join"), s"join in DV update read plan:\n${planOf(read)}")
    val ch = t.readChanges(c.version, c.version)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ch === Map("update_preimage" -> 5L, "update_postimage" -> 5L))
    // updating an already-updated row marks the COPY's position next time
    val c2 = t.updatePositional(col("id") === 1L, Map("x" -> lit(0.5)))
    assert(c2.metrics("numUpdatedRows") === 1)
    assert(t.read().filter(col("id") === 1L).head().getDouble(1) === 0.5)
    assert(t.read().count() === 30)
    // rewrite materializes everything
    t.optimize()
    assert(t.headCommit.get.dvDirs.isEmpty)
    assert(t.read().count() === 30)
  }

  test("positional update rebases over a concurrent append; strict aborts on match") {
    val seed = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-updreb"), seed)
    val stale = t.headCommit.get
    t.append(Seq((3L, 30.0)).toDF("id", "x"))
    val c = t.updatePositionalFrom(stale, col("id") === 1L, Map("x" -> lit(11.0)))
    assert(c.version === stale.version + 2)
    val rows = t.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 11.0), (2L, 20.0), (3L, 30.0)))
    assert(t.readChanges(c.version, c.version)
      .select("_commit_version").collect().forall(_.getLong(0) === c.version))
    // strict: a matching concurrent append aborts
    val stale2 = t.headCommit.get
    t.append(Seq((2L, 999.0)).toDF("id", "x"))
    intercept[ConcurrentWriteException] {
      t.updatePositionalFrom(stale2, col("id") === 2L, Map("x" -> lit(0.0)), strict = true)
    }
    assert(t.read().count() === 4)
  }

  test("materializeDeletes rewrites ONLY the touched dirs (REORG/PURGE shape)") {
    val t = GraftTable.create(spark, tmpDir("dv-purge"),
      (1L to 25L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.append((26L to 50L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.append((51L to 75L).map(i => (i, i * 1.0)).toDF("id", "x"))
    val before = t.headCommit.get.dataDirs
    assert(before.length === 3)
    // positions land only in the SECOND dir's files
    t.deletePositional(col("id").between(30L, 40L))
    val c = t.materializeDeletes()
    assert(c.metrics("numRewrittenDirs") === 1)
    assert(t.headCommit.get.dvDirs.isEmpty)
    // the two untouched dirs are referenced by their ORIGINAL names
    val after = t.headCommit.get.dataDirs
    assert(after.count(before.contains) === 2)
    assert(after.length === 3) // 2 untouched + 1 rewritten
    assert(t.read().count() === 64)
    assert(t.read().filter(col("id").between(30L, 40L)).count() === 0)
    // idempotent no-op without DVs
    assert(t.materializeDeletes().version === c.version)
  }

  test("optimizeWhere folds the dirs deletion vectors mark with its selection") {
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-optwhere"), rows(1, 100))
    t.append(rows(101, 200)); t.append(rows(201, 300))
    val Seq(marked, middle, selected) = t.headCommit.get.dataDirs
    t.deletePositional(col("id") <= 10L) // marks the first dir only
    val before = t.read().collect().toSet
    val c = t.optimizeWhere(col("id") > 250L) // selects the third dir
    assert(c.dvDirs.isEmpty)
    assert(c.metrics("numRewrittenDirs") === 2, "the selected dir and the marked dir")
    assert(c.dataDirs.contains(middle) && !c.dataDirs.contains(marked) &&
      !c.dataDirs.contains(selected))
    assert(t.read().collect().toSet === before)
  }

  test("compactSmall folds the dirs deletion vectors mark with the small tail") {
    import org.apache.hadoop.fs.Path
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    val root = tmpDir("dv-compact")
    val t = GraftTable.create(spark, root, rows(1, 100))
    t.append(rows(101, 200)); t.append(rows(201, 201)); t.append(rows(202, 202))
    val Seq(marked, mature, tiny1, tiny2) = t.headCommit.get.dataDirs
    t.deletePositional(col("id") === 50L) // marks the first dir only
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def bytes(d: String) = fs.getContentSummary(new Path(root, d)).getLength
    val threshold = math.max(bytes(tiny1), bytes(tiny2)) + 1
    assert(bytes(marked) >= threshold, "the marked dir must not count as small")
    val before = t.read().collect().toSet
    val c = t.compactSmall(smallDirBytes = threshold)
    assert(c.isDefined, "two small dirs must fold")
    assert(c.get.dvDirs.isEmpty)
    assert(c.get.metrics("numRewrittenDirs") === 3, "the small tail and the marked dir")
    assert(c.get.dataDirs.size === 2 && c.get.dataDirs.contains(mature))
    assert(t.read().collect().toSet === before)
  }

  test("replaceWhere rewrites the dirs deletion vectors mark with its region") {
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-replace"), rows(1, 100))
    t.append(rows(101, 200)); t.append(rows(201, 300))
    val Seq(marked, middle, _) = t.headCommit.get.dataDirs
    t.deletePositional(col("id") <= 10L) // marks the first dir only
    val c = t.replaceWhere(rows(251, 260).withColumn("x", lit(-1.0)), col("id") > 250L)
    assert(c.dvDirs.isEmpty)
    assert(c.dataDirs.contains(middle) && !c.dataDirs.contains(marked))
    val got = t.read().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === (11L to 260L).toSet, "deleted rows resurrected or region kept")
    assert((251L to 260L).forall(got(_) === -1.0))
  }

  test("concurrent positional mutations commute via restart; rewrites still abort") {
    val t = GraftTable.create(spark, tmpDir("dv-race"),
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x"))
    val stale = t.headCommit.get
    t.deletePositional(col("id") <= 10)
    // overlapping delete computed from the PRE-delete snapshot: restarts
    // against the new head and counts only the rows still live
    val c = t.deletePositionalFrom(stale, col("id") <= 15)
    assert(c.metrics("numDeletedRows") === 5) // 11..15 only
    assert(t.read().count() === 5)
    assert(t.rowCount === 5) // footer math: no double-subtraction
    assert(t.readChanges(c.version, c.version).count() === 5)
    // positional update racing a positional delete also restarts
    val stale2 = t.headCommit.get
    t.deletePositional(col("id") === 16L)
    val c2 = t.updatePositionalFrom(stale2, col("id") >= 16L, Map("x" -> lit(0.0)))
    assert(c2.metrics("numUpdatedRows") === 4) // 17..20 (16 already gone)
    assert(t.read().filter(col("x") === 0.0).count() === 4)
    // a REWRITE race still aborts
    val stale3 = t.headCommit.get
    t.optimize()
    intercept[ConcurrentWriteException] {
      t.deletePositionalFrom(stale3, col("id") === 18L)
    }
    assert(t.read().count() === 4)
  }

  test("keyed positional delete: semi-join hit set, positions-only write") {
    val t = GraftTable.create(spark, tmpDir("dv-keys"),
      (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x"))
    val keys = Seq(3L, 7L, 50L, 99L, 999L).toDF("id") // 999 absent
    val c = t.deleteKeysPositional(keys, "id")
    assert(c.metrics("numDeletedRows") === 4)
    assert(t.read().count() === 96)
    assert(t.read().filter(col("id").isin(3L, 7L, 50L, 99L)).count() === 0)
    assert(!planOf(t.read()).contains("Join")) // read side still join-free
    // the delete wrote only positions: no new data dir
    assert(t.headCommit.get.dataDirs.length === 1)
    assert(t.headCommit.get.dvDirs.length === 1)
  }

  test("DVs compose with additive schema evolution") {
    val t = GraftTable.create(spark, tmpDir("dv-evolve"),
      (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.deletePositional(col("id") <= 5)
    // additive evolution AFTER positions were recorded
    t.append((21L to 25L).map(i => (i, i * 1.0, s"tag$i")).toDF("id", "x", "y"))
    val read = t.read()
    assert(read.columns.toSeq === Seq("id", "x", "y"))
    assert(read.count() === 20) // 15 survivors + 5 appended
    assert(read.filter(col("id") <= 5).count() === 0)
    assert(read.filter(col("y").isNull).count() === 15) // old files: null y
    // positions can be recorded against post-evolution files too
    t.deletePositional(col("y") === "tag21")
    assert(t.read().count() === 19)
    assert(!planOf(t.read()).contains("Join"))
  }

  test("vacuum keeps live DV dirs; restore revives the pre-delete snapshot") {
    val seed = (1L to 20L).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("dv-vac"), seed)
    val cDel = t.deletePositional(col("id") > 15)
    // vacuum with retention 0 must NOT break the head (its DV is live)
    t.vacuum(retentionHours = 0.0, nowMs = System.currentTimeMillis() + 1000)
    assert(t.read().count() === 15)
    // restore to the pre-delete version drops the DV reference
    t.restore(cDel.version - 1)
    assert(t.headCommit.get.dvDirs.isEmpty)
    assert(t.read().count() === 20)
  }

  test("a fresh handle builds the read of a DV-carrying table without a Spark job") {
    val seed = (1L to 60L).map(i => (i, i * 1.0)).toDF("id", "x")
    val root = tmpDir("dv-nojob")
    val t = GraftTable.create(spark, root, seed)
    t.deletePositional(col("id") % 7 === 0)
    t.deleteKeysPositional(Seq(1L, 2L).toDF("id"), "id")
    assert(t.headCommit.get.dvDirs.size === 2)
    // Jobs of this thread's group are counted; the listener bus is FIFO, so
    // once a later marker job's start is seen every earlier one was too.
    val sc = spark.sparkContext
    val group = s"dv-nojob-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == group + "-marker" => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    val read = try {
      sc.setJobGroup(group, "fresh-handle read build")
      val df = GraftTable.forPath(spark, root).read()
      sc.setJobGroup(group + "-marker", "marker")
      spark.range(1L).count()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(counted.get() === 0, s"${counted.get()} Spark job(s) before the action")
    assert(read.count() === 60 - 8 - 2)
  }
}
