package graft.table

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Multi-writer optimistic concurrency: disjoint appends from independent
  * table handles must ALL land (rebase-and-retry), while snapshot-rewriting
  * operations that lose the version race must abort cleanly with
  * [[ConcurrentWriteException]] and roll back their dirs. */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  test("concurrent appends from independent handles all land") {
    val root = tmpDir("cc-append")
    GraftTable.create(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    val writers = 4
    val appendsPerWriter = 5
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val errs = java.util.Collections.synchronizedList(new java.util.ArrayList[Throwable]())
    (0 until writers).foreach { w =>
      pool.execute { () =>
        try {
          // One INDEPENDENT handle per writer — same-instance synchronization
          // must not be what saves us.
          val t = GraftTable.forPath(spark, root)
          start.await()
          (0 until appendsPerWriter).foreach { i =>
            t.append(Seq(((w + 1) * 100L + i, s"w$w-$i")).toDF("id", "v")); ()
          }
        } catch { case e: Throwable => errs.add(e) }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"append writers failed: $errs")
    val t = GraftTable.forPath(spark, root)
    assert(t.version === (writers * appendsPerWriter).toLong) // every append committed
    assert(t.read().count() === (1 + writers * appendsPerWriter).toLong) // no lost rows
    // ids are disjoint by construction and must all be present exactly once
    assert(t.read().select("id").distinct().count() === t.read().count())
  }

  test("a rewrite that loses the race aborts with rollback; appends rebase over anything") {
    val root = tmpDir("cc-rewrite")
    val seed = (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x")
    GraftTable.create(spark, root, seed)
    val a = GraftTable.forPath(spark, root)
    val b = GraftTable.forPath(spark, root)
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val outcomes = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    Seq(a, b).zipWithIndex.foreach { case (t, i) =>
      pool.execute { () =>
        start.await()
        try { t.delete(col("id") === (50L + i)); outcomes.add("ok"); () }
        catch {
          case _: ConcurrentWriteException => outcomes.add("conflict"); ()
          case e: Throwable => outcomes.add(s"unexpected: $e"); ()
        }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    import scala.jdk.CollectionConverters._
    val results = outcomes.asScala.toList
    assert(results.forall(r => r == "ok" || r == "conflict"), s"got $results")
    assert(results.contains("ok")) // at least one writer succeeded
    // Table stays consistent either way: every surviving version readable,
    // row count = 100 - (number of successful deletes).
    val t = GraftTable.forPath(spark, root)
    val okCount = results.count(_ == "ok")
    assert(t.read().count() === (100 - okCount).toLong)
    (0L to t.version).foreach(v => assert(t.readVersion(v).count() >= 0))
    // An aborted rewrite must not leave orphan data dirs: every dir under
    // data/ is referenced by some commit.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    val onDisk = fs.listStatus(dataDir).map(_.getPath.getName).toSet
    val referencedNames = new CommitLog(root, spark.sessionState.newHadoopConf())
      .commits().flatMap(_.dataDirs).map(_.stripPrefix("data/")).toSet
    assert(onDisk.subsetOf(referencedNames), s"orphan dirs: ${onDisk -- referencedNames}")
  }

  test("appendOnce replay detection survives a rebase race") {
    val root = tmpDir("cc-once")
    GraftTable.create(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    val t = GraftTable.forPath(spark, root)
    assert(t.appendOnce(Seq((1L, "b0")).toDF("id", "v"), "app", 0L).isDefined)
    assert(t.appendOnce(Seq((1L, "b0")).toDF("id", "v"), "app", 0L).isEmpty) // replay skipped
    assert(t.appendOnce(Seq((2L, "b1")).toDF("id", "v"), "app", 1L).isDefined)
    assert(t.read().count() === 3)
  }

  /** Conditional-put double for object-store semantics: arbitration is the
    * store's atomic if-none-match primitive (here a ConcurrentHashMap), and
    * — like a real object store — an overwriting rename-based check could
    * NOT have provided it. */
  private class MapConditionalPut extends ConditionalPutPublisher {
    val keys = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
    override protected def putIfAbsent(
        fs: org.apache.hadoop.fs.FileSystem,
        target: org.apache.hadoop.fs.Path,
        bytes: Array[Byte]): Boolean = {
      if (keys.putIfAbsent(target.toString, true) != null) return false
      val out = fs.create(target, false)
      try out.write(bytes) finally out.close()
      true
    }
  }

  test("conditional-put publisher: exactly one of N racing writers wins the version") {
    val root = tmpDir("cc-condput")
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new org.apache.hadoop.fs.Path(root, CommitLog.LogDirName)
    val fs = logDir.getFileSystem(conf)
    fs.mkdirs(logDir)
    val target = new org.apache.hadoop.fs.Path(logDir, "00000000000000000007.json")
    val pub = new MapConditionalPut
    val n = 8
    val ready = new CountDownLatch(n)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    (0 until n).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          ready.countDown(); go.await()
          if (pub.publish(fs, logDir, target, s"""{"writer":$i}"""))
            { wins.incrementAndGet(); () }
        }
      })
    }
    ready.await(); go.countDown()
    pool.shutdown(); assert(pool.awaitTermination(30, TimeUnit.SECONDS))
    assert(wins.get() === 1, "exactly one writer must win the conditional put")
    // and the surviving file is one writer's complete payload
    val content = CommitPublishers.readBack(fs, target)
    assert(content.matches("""\{"writer":\d\}"""), content)
  }

  test("merge-on-read delete rebases over a concurrent append, aborts on rewrite") {
    import org.apache.spark.sql.functions._
    val seed = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("cc-mor"), seed)
    val stale = t.headCommit.get
    // another writer appends AFTER our snapshot was taken
    t.append(Seq((2L, 999.0)).toDF("id", "x")) // same id, different row
    // the delete computed from the stale snapshot must rebase: both land
    val c = t.deletePositionalFrom(stale, col("id") === 2L)
    assert(c.version === stale.version + 2)
    val rows = t.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // the ORIGINAL id=2 row is deleted; the appended one survives (its
    // file postdates the recorded positions)
    assert(rows === Set((1L, 10.0), (3L, 30.0), (2L, 999.0)))

    // a concurrent REWRITE is not append-only: the delete must abort
    val stale2 = t.headCommit.get
    t.update(col("id") === 1L, Map("x" -> lit(11.0)))
    intercept[ConcurrentWriteException] {
      t.deletePositionalFrom(stale2, col("id") === 3L)
    }
    // aborted cleanly: nothing deleted, update intact
    assert(t.read().count() === 3)
    assert(t.read().filter(col("id") === 1L).head().getDouble(1) === 11.0)
  }

  test("merge-on-read update rebases over a concurrent append") {
    import org.apache.spark.sql.functions._
    val seed = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("cc-moru"), seed)
    val stale = t.headCommit.get
    t.append(Seq((3L, 30.0)).toDF("id", "x"))
    val c = t.updatePositionalFrom(stale, col("id") === 1L, Map("x" -> lit(11.0)))
    assert(c.version === stale.version + 2)
    val rows = t.read().collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows === Set((1L, 11.0), (2L, 20.0), (3L, 30.0)))
  }

  test("rebased merge-on-read CDF is stamped with the ACTUAL commit version") {
    import org.apache.spark.sql.functions._
    val seed = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("cc-cdfver"), seed)
    val stale = t.headCommit.get
    t.append(Seq((4L, 40.0)).toDF("id", "x")) // wins version stale+1
    val c = t.deletePositionalFrom(stale, col("id") === 2L) // rebases to stale+2
    assert(c.version === stale.version + 2)
    // Delta contract: change rows carry the version they COMMITTED at —
    // a stale stamp (stale+1) would attribute the delete to the append.
    val ch = t.readChanges(c.version, c.version)
      .select("_commit_version", "_change_type", "id").collect()
    assert(ch.length === 1)
    assert(ch.head.getLong(0) === c.version)
    assert(ch.head.getString(1) === "delete")
    // and the appended commit's own CDF (if any) is not polluted: reading
    // the append version yields only its insert rows
    val chAll = t.readChanges(0L, c.version)
      .select("_commit_version").distinct().collect().map(_.getLong(0)).toSet
    assert(chAll.contains(c.version))
    assert(!chAll.contains(stale.version + 1) ||
      t.readChanges(stale.version + 1, stale.version + 1)
        .filter(col("_change_type") === "delete").isEmpty)
  }

  test("rebased MoR update re-stamps pre/post CDF at the committed version") {
    import org.apache.spark.sql.functions._
    val seed = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("cc-cdfveru"), seed)
    val stale = t.headCommit.get
    t.append(Seq((3L, 30.0)).toDF("id", "x"))
    val c = t.updatePositionalFrom(stale, col("id") === 1L, Map("x" -> lit(11.0)))
    val ch = t.readChanges(c.version, c.version)
      .select("_commit_version", "_change_type").collect()
    assert(ch.length === 2) // preimage + postimage
    assert(ch.forall(_.getLong(0) === c.version))
  }

  test("append rebasing over a concurrent ADD CONSTRAINT re-validates") {
    import org.apache.spark.sql.functions._
    val root = tmpDir("cc-constraint")
    val t = GraftTable.create(spark, root, Seq((1L, 10.0)).toDF("id", "x"))
    val other = GraftTable.forPath(spark, root)
    // Violating rows validated against a head WITHOUT the constraint; the
    // constraint lands before our commit → rebase must re-validate + abort.
    t.beforeCommitHook = () => {
      other.addConstraint("x_pos", "x > 0"); t.beforeCommitHook = () => ()
    }
    intercept[IllegalArgumentException] {
      t.append(Seq((2L, -5.0)).toDF("id", "x"))
    }
    val t2 = GraftTable.forPath(spark, root)
    assert(t2.read().count() === 1) // violating append did NOT land
    assert(t2.constraints === Map("x_pos" -> "x > 0"))
    // no orphan data dirs from the aborted rebase
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val onDisk = fs.listStatus(new org.apache.hadoop.fs.Path(root, "data"))
      .map(_.getPath.getName).toSet
    val referenced = new CommitLog(root, spark.sessionState.newHadoopConf())
      .commits().flatMap(_.dataDirs).map(_.stripPrefix("data/")).toSet
    assert(onDisk.subsetOf(referenced), s"orphans: ${onDisk -- referenced}")
    // and a CONFORMING append racing the same way rebases and lands
    t.beforeCommitHook = () => {
      other.addConstraint("x_cap", "x < 1000"); t.beforeCommitHook = () => ()
    }
    t.append(Seq((3L, 30.0)).toDF("id", "x"))
    assert(GraftTable.forPath(spark, root).read().count() === 2)
  }

  test("strict merge-on-read aborts iff a concurrent append matches the predicate") {
    import org.apache.spark.sql.functions._
    val seed = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("cc-strict"), seed)
    // matching append → strict aborts (WriteSerializable-style)
    val stale = t.headCommit.get
    t.append(Seq((2L, 999.0)).toDF("id", "x"))
    intercept[ConcurrentWriteException] {
      t.deletePositionalFrom(stale, col("id") === 2L, strict = true)
    }
    assert(t.read().count() === 3) // nothing deleted, rollback clean
    // NON-matching append → strict still rebases (no spurious abort)
    val stale2 = t.headCommit.get
    t.append(Seq((7L, 70.0)).toDF("id", "x"))
    val c = t.deletePositionalFrom(stale2, col("id") === 1L, strict = true)
    assert(c.version === stale2.version + 2)
    val ids = t.read().select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 7L)) // id=1 deleted; both appends intact
  }

  test("OPTIMIZE rebases over a concurrent append; aborts on a rewrite") {
    import org.apache.spark.sql.functions._
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, tmpDir("cc-opt"), rows(1, 100))
    t.append(rows(101, 200))
    val stale = t.headCommit.get
    // ingestion continues while the compaction job reads the snapshot
    t.append(rows(201, 300))
    val c = t.compact(stale, stale.dataDirs, Long.MaxValue)
    assert(c.version === stale.version + 2)
    // compacted snapshot + the concurrently appended rows, nothing lost
    assert(t.read().count() === 300)
    assert(c.dataDirs.size === 2, "appended dir + one compacted dir")
    assert(t.read().agg(sum("id")).head().getLong(0) === (1L to 300L).sum)

    // selective compaction (a dir subset) rebases the same way
    val stale2 = t.headCommit.get
    t.append(rows(301, 400))
    val c2 = t.compact(stale2, stale2.dataDirs.take(1), Long.MaxValue)
    assert(c2.version === stale2.version + 2)
    assert(t.read().count() === 400)

    // a concurrent REWRITE is not append-only: compaction must abort
    val stale3 = t.headCommit.get
    t.update(col("id") === 1L, Map("x" -> lit(-1.0)))
    intercept[ConcurrentWriteException] { t.compact(stale3, stale3.dataDirs, Long.MaxValue) }
    assert(t.read().count() === 400)
    assert(t.read().filter(col("id") === 1L).head().getDouble(1) === -1.0)
  }

  test("materializeDeletes rebases over a concurrent append") {
    import org.apache.spark.sql.functions._
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    val root = tmpDir("cc-purge")
    val t = GraftTable.create(spark, root, rows(1, 100))
    t.append(rows(101, 200))
    t.deletePositional(col("id") <= 10L) // marks only the first dir
    val other = GraftTable.forPath(spark, root)
    // ingestion lands while the purge is staged: the purge re-lands on it
    t.beforeCommitHook = () => {
      t.beforeCommitHook = () => (); other.append(rows(201, 300)); ()
    }
    val c = try t.materializeDeletes() finally t.beforeCommitHook = () => ()
    assert(c.operation === "OPTIMIZE" && c.dvDirs.isEmpty)
    assert(c.metrics("numRewrittenDirs") === 1)
    assert(c.dataDirs.size === 3, "untouched dir + appended dir + purged dir")
    val ids = t.read().select("id").collect().map(_.getLong(0)).toSet
    assert(ids === (11L to 300L).toSet, "purge lost or resurrected rows")
  }

  test("racing positional deletes from independent handles BOTH land (commute)") {
    val root = tmpDir("cc-dvrace")
    GraftTable.create(spark, root, (1L to 40L).map(i => (i, i * 1.0)).toDF("id", "x"))
    val a = GraftTable.forPath(spark, root)
    val b = GraftTable.forPath(spark, root)
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val errs = java.util.Collections.synchronizedList(new java.util.ArrayList[Throwable]())
    // overlapping predicates: ids 5..10 matched by both
    pool.execute { () =>
      start.await()
      try { a.deletePositional(col("id") <= 10); () }
      catch { case e: Throwable => errs.add(e); () }
    }
    pool.execute { () =>
      start.await()
      try { b.deletePositional(col("id").between(5L, 15L)); () }
      catch { case e: Throwable => errs.add(e); () }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"racing positional deletes failed: $errs")
    val t = GraftTable.forPath(spark, root)
    assert(t.read().count() === 25) // 1..15 deleted exactly once
    assert(t.rowCount === 25)       // footer math: overlap not double-marked
    val deletes = t.readChanges(0)
      .filter(col("_change_type") === "delete").select("id").collect()
      .map(_.getLong(0))
    assert(deletes.length === 15 && deletes.toSet === (1L to 15L).toSet)
  }

  test("randomized interleaving: appends ∥ MoR deletes ∥ constraint — CDF stamps true, constraint holds at every head") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val root = tmpDir(s"cc-fuzz$seed")
      GraftTable.create(spark, root,
        (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "x"))
      val pool = Executors.newFixedThreadPool(4)
      val start = new CountDownLatch(1)
      val errs = java.util.Collections.synchronizedList(new java.util.ArrayList[Throwable]())
      val delays = Array.fill(4)(rnd.nextInt(30)) // seeded stagger per role

      // valid appender: fresh ids, x > 0 — must always land (rebase)
      pool.execute { () =>
        try {
          val t = GraftTable.forPath(spark, root); start.await()
          Thread.sleep(delays(0))
          (0 until 4).foreach { i =>
            t.append(Seq((1000L + i, 1.0 + i)).toDF("id", "x")); ()
          }
        } catch { case e: Throwable => errs.add(e) }
      }
      // INVALID appender: x = -1 rows — must land only BEFORE the
      // constraint commit; a rebase over the constraint must re-check
      pool.execute { () =>
        try {
          val t = GraftTable.forPath(spark, root); start.await()
          Thread.sleep(delays(1))
          (0 until 4).foreach { i =>
            try { t.append(Seq((2000L + i, -1.0)).toDF("id", "x")); () }
            catch { case e: IllegalArgumentException
                if e.getMessage.contains("CHECK constraint") => () }
            Thread.sleep(delays(1))
          }
        } catch { case e: Throwable => errs.add(e) }
      }
      // MoR deleter: positional deletes rebase over appends; a loss against
      // a true rewrite surfaces as ConcurrentWriteException (permitted)
      pool.execute { () =>
        try {
          val t = GraftTable.forPath(spark, root); start.await()
          Thread.sleep(delays(2))
          Seq(7L, 3L).foreach { m =>
            try { t.deletePositional(col("id") <= 50L && col("id") % 10 === m); () }
            catch { case _: ConcurrentWriteException => () }
            Thread.sleep(delays(2))
          }
        } catch { case e: Throwable => errs.add(e) }
      }
      // constrainer: one CHECK lands mid-storm (valid for all seed rows;
      // aborts cleanly if it races an in-flight invalid append's commit)
      pool.execute { () =>
        try {
          val t = GraftTable.forPath(spark, root); start.await()
          Thread.sleep(delays(3))
          try { t.addConstraint("x_nonneg", "x >= 0.0 OR id < 2000"); () }
          catch { case e: IllegalArgumentException
              if e.getMessage.contains("CHECK constraint") =>
            t.addConstraint("x_nonneg", "x >= 0.0 OR id < 3000"); () }
        } catch { case e: Throwable => errs.add(e) }
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(180, TimeUnit.SECONDS))
      assert(errs.isEmpty, s"seed $seed writers failed: $errs")

      val t = GraftTable.forPath(spark, root)
      val commits = t.history().select("version", "operation").collect()
        .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
      // versions are contiguous — optimistic retries never skip or dup
      assert(commits.map(_._1).toSeq === (0L until commits.length.toLong))

      // CDF stamps are TRUE commit versions even after rebases: every
      // stamped version names a real commit, and replaying the feed
      // reproduces the head snapshot exactly
      val cdf = t.readChanges(0L, t.version)
      val stamped = cdf.select("_commit_version").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(stamped.subsetOf(commits.map(_._1).toSet), s"seed $seed: phantom versions ${stamped -- commits.map(_._1)}")
      // CREATE's initial snapshot is not a change (Delta parity), so the
      // replay seeds the v0 rows and then folds the feed over them
      val replayed = cdf.select(col("id"),
          when(col("_change_type") === "insert", 1)
            .when(col("_change_type") === "delete", -1).otherwise(0).as("d"))
        .unionByName(spark.range(1, 51).select(col("id"), lit(1).as("d")))
        .groupBy("id").agg(sum("d").as("alive"))
        .filter(col("alive") > 0).select("id")
      val head = t.read().select("id")
      assert(replayed.exceptAll(head).isEmpty && head.exceptAll(replayed).isEmpty,
        s"seed $seed: CDF replay diverges from head")

      // the REGISTERED constraint predicate holds at every version from its
      // commit onward — including versions committed by racing writers
      val cVersion = commits.collectFirst { case (v, op) if op == "ADD CONSTRAINT" => v }
      assert(cVersion.isDefined, s"seed $seed: constraint never landed")
      val registered = t.constraints
      assert(registered.nonEmpty, s"seed $seed: no constraint registered")
      (cVersion.get to t.version).foreach { v =>
        registered.foreach { case (n, p) =>
          assert(t.readVersion(v).filter(!coalesce(expr(p), lit(true))).isEmpty,
            s"seed $seed: constraint $n ($p) violated at version $v")
        }
      }
    }
  }

  /** Dirs under `bases` that no commit of the log references. */
  private def unreferenced(root: String,
      bases: Seq[String] = Seq("data", "dvs", "_changes")): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val referenced = new CommitLog(root, conf).commits().flatMap(c =>
      c.dataDirs ++ c.dvDirs ++ c.changesDir).toSet
    bases.flatMap { b =>
      val dir = new org.apache.hadoop.fs.Path(root, b)
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter(_.isDirectory).map(st => s"$b/${st.getPath.getName}").toSeq
    }.toSet -- referenced
  }

  test("an exception before the publish reaps the verb's staging; the head stays put") {
    val root = tmpDir("cc-reap")
    val t = GraftTable.create(spark, root, (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "x"))
    val verbs: Seq[(String, () => Commit)] = Seq(
      "append" -> (() => t.append(Seq((11L, 11.0)).toDF("id", "x"))),
      "mergeClauses" -> (() => t.mergeClauses(Seq((1L, 5.0), (12L, 12.0)).toDF("id", "x"),
        "id", matched = Seq(MergeClause.UpdateAll()),
        notMatched = Seq(MergeClause.InsertAll()))),
      "deletePositional" -> (() => t.deletePositional(col("id") === 2L)))
    t.beforeCommitHook = () => throw new RuntimeException("injected before publish")
    try verbs.foreach { case (name, verb) =>
      val before = t.version
      val e = intercept[RuntimeException](verb())
      assert(e.getMessage === "injected before publish", name)
      assert(t.version === before, name)
      assert(unreferenced(root).isEmpty, s"$name leaked ${unreferenced(root)}")
    } finally t.beforeCommitHook = () => ()
    t.append(Seq((11L, 11.0)).toDF("id", "x"))
    assert(t.read().count() === 11)
  }

  test("a rebasing verb losing every race gives up after 20 attempts, staging reaped") {
    val root = tmpDir("cc-exhaust")
    val t = GraftTable.createWithProperties(spark, root,
      (1L to 10L).map(i => (i, i * 1.0)).toDF("id", "x"),
      Map("delta.enableChangeDataFeed" -> "true"))
    val rival = GraftTable.forPath(spark, root)
    var next = 100L
    // a rival APPEND lands before every publish attempt
    t.beforeCommitHook = () => {
      next += 1
      rival.append(Seq((next, 0.0)).toDF("id", "x")); ()
    }
    val verbs: Seq[(String, () => Commit)] = Seq(
      "positional delete" -> (() => t.deletePositional(col("id") === 1L)),
      "positional update" -> (() => t.updatePositional(col("id") === 2L, Map("x" -> lit(0.5)))))
    try verbs.foreach { case (what, verb) =>
      val before = t.version
      val e = intercept[ConcurrentWriteException](verb())
      assert(e.getMessage.contains(s"$what of $root lost 20 version races"), e.getMessage)
      assert(t.version === before + 20, what) // every rival append landed
      val left = unreferenced(root, Seq("data", "dvs", "_changes"))
      assert(left.isEmpty, s"$what leaked $left")
    } finally t.beforeCommitHook = () => ()
    assert(t.read().count() === 50) // 10 seed + 40 rival rows, nothing mutated
  }

  test("publisher registry: scheme selection and conditional-put registration") {
    // unknown scheme falls back to rename+read-back
    assert(CommitLog.publisherFor("s3a-unregistered") === RenamePublisher)
    assert(CommitLog.publisherFor("file") === HardLinkPublisher)
    assert(CommitLog.publisherFor("hdfs") === RenamePublisher)
    val pub = new MapConditionalPut
    CommitLog.registerPublisher("mem-test", pub)
    assert(CommitLog.publisherFor("mem-test") === pub)
  }
}
