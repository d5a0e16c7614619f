package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Both pruning layers must be observable in what actually gets scanned:
  * hive-partition pruning inside version dirs, and dir-granularity min/max
  * data skipping via [[Commit.dirStats]] (whereSuperset: the pruned scan
  * before the exact filter). */
class PruningSpec extends SparkSpec {
  import spark.implicits._

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  test("partition pruning + dir-stats skipping reduce scanned files") {
    val root = tmpDir("prune")
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, if (i % 2 == 0) "A" else "B", i * 1.0))
        .toDF("id", "status", "x")
    // 4 key-range appends, each hive-partitioned by status → 8 leaf dirs
    val t = GraftTable.create(spark, root, rows(1, 100), partitionBy = Seq("status"))
    t.append(rows(101, 200))
    t.append(rows(201, 300))
    t.append(rows(301, 400))

    val totalFiles = scannedFiles(t.read())

    // Hive-partition pruning: a status filter must scan only A-partitions.
    val statusFiltered = scannedFiles(t.read().filter(col("status") === "A"))
    assert(statusFiltered < totalFiles,
      s"partition pruning did not reduce files: $statusFiltered vs $totalFiles")

    // Dir-stats skipping: an id-range predicate must drop whole append
    // dirs before Spark ever lists them.
    val pruned = t.whereSuperset(col("id").between(0L, 100L))
    val prunedFiles = scannedFiles(pruned)
    assert(prunedFiles < totalFiles,
      s"dir-stats skipping did not reduce files: $prunedFiles vs $totalFiles")
    // and the result is still a superset of the exact rows
    assert(pruned.filter(col("id") <= 100).count() === 100)

    // Combined: range + partition filter touches the fewest files.
    val both = scannedFiles(pruned.filter(col("status") === "A"))
    assert(both <= statusFiltered && both <= prunedFiles)

    // The filter itself reaches the parquet scan (pushdown, not post-filter).
    val plan = t.read().filter(col("id") <= 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThanOrEqual(id,100)"),
      s"no pushed filter in plan:\n$plan")
  }

  test("CHECK constraints prune scans their range contradicts") {
    val root = tmpDir("prune-constraint")
    // v1 records no x stats (the stats columns exclude it), so
    // conservative skipping must keep it
    val t = GraftTable.create(spark, root, (1L to 100L).toDF("id"))
    t.setProperties(Map("delta.dataSkippingStatsColumns" -> "id"))
    t.append((101L to 200L).map(i => (i, 2000.0 + i)).toDF("id", "x"))
    val window = col("x").between(0.0, 100.0)
    assert(scannedFiles(t.whereSuperset(window)) > 0,
      "without a constraint the stats-less dir must be kept")
    // the table-wide invariant the dir-stats can't know: every x >= 2000
    t.addConstraint("x_range", "x >= 2000")
    val t2 = GraftTable.forPath(spark, root)
    // a window the constraint contradicts scans NOTHING — no dirs listed
    val pruned = t2.whereSuperset(window)
    assert(scannedFiles(pruned) === 0,
      "constraint-implied skipping must prune every dir")
    assert(pruned.count() === 0)
    // a window inside the constraint range still reads a correct superset
    assert(t2.where(col("x").between(2101.0, 2200.0)).count() === 100)
  }

  test("bloom point-lookup index prunes dirs range stats cannot") {
    val root = tmpDir("bloom-idx")
    // every dir spans ~the SAME [min, max] (ids interleaved mod 4), so
    // dir-stats range skipping keeps all of them — the needle query only
    // a bloom can answer at the metadata level
    def rows(k: Long) = (1L to 4000L).filter(_ % 4 == k).map(i => (i, i * 1.0))
      .toDF("id", "x")
    val t = GraftTable.create(spark, root, rows(0))
    t.append(rows(1)); t.append(rows(2)); t.append(rows(3))
    val total = scannedFiles(t.read())
    assert(scannedFiles(t.whereSuperset(col("id") === 10L)) === total,
      "ranges overlap: dir-stats must NOT be able to skip")
    t.buildBloomIndex("id")
    val hit = t.whereSuperset(col("id") === 10L) // lives in the k=2 dir only
    assert(scannedFiles(hit) < total, "bloom index did not skip any dir")
    assert(hit.filter(col("id") === 10L).count() === 1)
    // a key absent everywhere: every indexed dir skipped (fpp ~1e-4)
    assert(t.where(col("id") === 999999L).count() === 0)
    // dirs appended AFTER the build are conservatively kept + correct
    t.append(Seq((999999L, 1.0)).toDF("id", "x"))
    assert(t.where(col("id") === 999999L).count() === 1)
  }

  test("bloom sidecars survive a metadata-only rename (keyed by physical name)") {
    val root = tmpDir("bloom-ren")
    def rows(k: Long) = (1L to 4000L).filter(_ % 4 == k).map(i => (i, i * 1.0))
      .toDF("id", "x")
    val t = GraftTable.create(spark, root, rows(0))
    t.append(rows(1)); t.append(rows(2)); t.append(rows(3))
    t.buildBloomIndex("id")
    val bloomDirs = new java.io.File(s"$root/_bloom").list().toSeq
    t.renameColumnMetadataOnly("id", "key")
    // the indexed VALUES didn't move: the same sidecars serve the new
    // logical name — an incremental build finds nothing to do
    t.buildBloomIndex("key")
    assert(new java.io.File(s"$root/_bloom").list().toSeq === bloomDirs,
      "rename must not orphan or duplicate bloom sidecars")
    val total = scannedFiles(t.read())
    val hit = t.whereSuperset(col("key") === 10L)
    assert(scannedFiles(hit) < total, "bloom pruning lost across the rename")
    assert(hit.filter(col("key") === 10L).count() === 1)
  }

  test("string dir-stats skip dirs by lexicographic range") {
    val root = tmpDir("prune-str")
    def rows(prefix: String) = (1 to 500).map(i => (f"$prefix-$i%04d", i * 1.0))
      .toDF("doc_id", "score")
    val t = GraftTable.create(spark, root, rows("alpha"))
    t.append(rows("bravo")); t.append(rows("charlie")); t.append(rows("delta"))
    val total = scannedFiles(t.read())
    // a prefix-range query over the 'b' namespace skips the other dirs
    val pruned = t.whereSuperset(col("doc_id").between("bravo", "bravo￿"))
    assert(scannedFiles(pruned) < total,
      "string range stats did not skip any dir")
    assert(pruned.filter(col("doc_id").startsWith("bravo")).count() === 500)
    // superset semantics: boundary-crossing range stays correct
    val cross = t.where(col("doc_id").between("bravo-0400", "charlie-0100"))
    assert(cross.count() === 201) // bravo 0400..0500 + charlie 0001..0100
  }

  test("bloom index works for STRING keys (hashed)") {
    val root = tmpDir("bloom-str")
    def rows(k: Int) = (1 to 1000).filter(_ % 3 == k).map(i => (s"doc-$i", i * 1.0))
      .toDF("doc_id", "score")
    val t = GraftTable.create(spark, root, rows(0))
    t.append(rows(1)); t.append(rows(2))
    t.buildBloomIndex("doc_id")
    val total = scannedFiles(t.read())
    val hit = t.whereSuperset(col("doc_id") === "doc-500") // 500 % 3 == 2
    assert(scannedFiles(hit) < total)
    assert(hit.filter(col("doc_id") === "doc-500").count() === 1)
    assert(t.where(col("doc_id") === "doc-absent").count() === 0)
  }

  test("where() prunes from the predicate tree across every skipping source") {
    val root = tmpDir("where")
    def rows(lo: Long, hi: Long, prefix: String) =
      (lo to hi).map(i => (i, f"$prefix-$i%05d", i * 1.0)).toDF("id", "doc_id", "x")
    val t = GraftTable.create(spark, root, rows(1, 1000, "alpha"))
    t.append(rows(1001, 2000, "bravo"))
    t.append(rows(2001, 3000, "charlie"))
    t.append(rows(3001, 4000, "delta"))
    val total = scannedFiles(t.read())

    // numeric range: dir-stats skipping, no manual entry point
    // (scan width measured on the pruned-but-unfiltered superset — the
    // exact filter on top would hide which files Spark actually listed)
    val rangeP = col("id").between(1200, 1300)
    assert(scannedFiles(t.whereSuperset(rangeP)) < total,
      "range predicate did not skip dirs")
    assert(t.where(rangeP).count() === 101)

    // OR recursion: both branch dirs kept, the other two skipped
    val eitherP = col("id") === 1500L || col("id") === 3500L
    assert(scannedFiles(t.whereSuperset(eitherP)) < total)
    assert(t.where(eitherP).count() === 2)

    // IN list over Int literals against the Long column (coercion path)
    val inP = col("id").isin(10, 2010)
    assert(scannedFiles(t.whereSuperset(inP)) < total)
    assert(t.where(inP).count() === 2)

    // string prefix: startsWith prunes to the one namespace dir
    val preP = col("doc_id").startsWith("charlie")
    assert(scannedFiles(t.whereSuperset(preP)) < total,
      "startsWith did not skip dirs")
    assert(t.where(preP).count() === 1000)

    // string range through the same predicate surface (ids run 01001..02000)
    val srP = col("doc_id") >= "bravo" && col("doc_id") < "bravo-01500"
    assert(scannedFiles(t.whereSuperset(srP)) < total)
    assert(t.where(srP).count() === 499)

    // a shape the walker can't reason about: full scan, still exact
    // ("charlie-NNNNN" is 13 chars, the other namespaces 11)
    val opaqueP = length(col("doc_id")) === lit(11)
    assert(scannedFiles(t.whereSuperset(opaqueP)) === total,
      "opaque predicate must not prune")
    assert(t.where(opaqueP).count() === 3000)

    // long-vs-string comparison: the analyzer coerces BOTH sides to a
    // common numeric type, so pruning sees the comparison Spark executes
    assert(t.where(col("id") === "1500").count() === 1)

    // semantics contract: where(p) == read().filter(p), any predicate
    val p = (col("id") % 7 === 0) && col("x") > 2000.0
    assert(t.where(p).count() === t.read().filter(p).count())

    // time travel composes with skipping: v1 = first two dirs only
    assert(t.whereVersion(1L, col("id").between(1200, 1300)).count() === 101)
    assert(t.whereVersion(1L, col("id") > 2500L).count() === 0)
    assert(t.whereVersion(1L, lit(true)).count() === 2000)
    // and by timestamp (readAsOf's resolution rule)
    assert(t.whereAsOf(System.currentTimeMillis(),
      col("id").between(1200, 1300)).count() === 101)
  }

  test("where() consults bloom sidecars for equality needles") {
    val root = tmpDir("where-bloom")
    // interleaved keys: every dir spans the same range, only bloom can skip
    def rows(k: Long) = (1L to 4000L).filter(_ % 4 == k).map(i => (i, i * 1.0))
      .toDF("id", "x")
    val t = GraftTable.create(spark, root, rows(0))
    t.append(rows(1)); t.append(rows(2)); t.append(rows(3))
    t.buildBloomIndex("id")
    val total = scannedFiles(t.read())
    assert(scannedFiles(t.whereSuperset(col("id") === 10L)) < total,
      "where() ignored the bloom sidecar")
    assert(t.where(col("id") === 10L).count() === 1)
    // Int literal against the Long-keyed sidecar: the coercion must land
    // BEFORE hashing or every dir gets (wrongly) pruned
    assert(t.where(col("id") === 10).count() === 1)
    // disjunction of needles: union of admitted dirs
    val twoP = col("id") === 10L || col("id") === 11L
    assert(scannedFiles(t.whereSuperset(twoP)) < total)
    assert(t.where(twoP).count() === 2)
  }

  test("decimal dir-stats are scaled to values, not unscaled ints") {
    val root = tmpDir("prune-dec")
    def rows(lo: Int, hi: Int) = (lo to hi)
      .map(i => (i.toLong, BigDecimal(i) / 100))
      .toDF("id", "amount")
      .select(col("id"), col("amount").cast("decimal(10,2)").as("amount"))
    val t = GraftTable.create(spark, root, rows(1, 10000))      // 0.01..100.00
    t.append(rows(20001, 30000))                                 // 200.01..300.00
    val total = scannedFiles(t.read())
    // the VALUE range 200..300 lives in dir 2 only; with unscaled footer
    // stats (20001..30000) this window would wrongly keep/drop dirs
    val hiP = col("amount") > lit(BigDecimal("200.00"))
    assert(scannedFiles(t.whereSuperset(hiP)) < total,
      "decimal stats did not skip the low dir")
    assert(t.where(hiP).count() === 10000)
    // boundary points survive the double rounding (ULP widening) — one in
    // each dir's value range (0.01..100.00 and 200.01..300.00)
    assert(t.where(col("amount") === lit(BigDecimal("55.55"))).count() === 1)
    assert(t.where(col("amount") === lit(BigDecimal("250.00"))).count() === 1)
  }

  test("optimizeWhere compacts only the dirs the predicate touches") {
    val root = tmpDir("optwhere")
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
      .repartition(4) // several small files per dir — the compaction target
    val t = GraftTable.create(spark, root, rows(1, 1000))
    t.append(rows(1001, 2000))
    t.append(rows(2001, 3000))
    val beforeDirs = t.skippingStats().select("dir").collect().map(_.getString(0))
    val c = t.optimizeWhere(col("id") <= 1000, targetFileBytes = Long.MaxValue)
    // two untouched dirs + one rewritten
    assert(c.dataDirs.size === 3)
    assert(beforeDirs.count(c.dataDirs.contains) === 2, "untouched dirs must survive")
    // data identical, rewritten region now a single file
    assert(t.read().count() === 3000)
    assert(scannedFiles(t.whereSuperset(col("id") <= 1000)) === 1)
    // untouched dirs kept their stats: the far range still prunes to one dir
    assert(scannedFiles(t.whereSuperset(col("id") > 2500L)) === 4)
    // a predicate matching nothing is a no-op (no empty commit)
    val v = t.version
    t.optimizeWhere(col("id") < 0L)
    assert(t.version === v)
    // history before the compaction still reads
    assert(t.readVersion(2).count() === 3000)
  }

  test("replaceWhere rewrites only the touched region and validates the replacement") {
    val root = tmpDir("replwhere")
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
      .repartition(2)
    val t = GraftTable.create(spark, root, rows(1, 1000))
    t.append(rows(1001, 2000))
    t.append(rows(2001, 3000))
    val beforeDirs = t.skippingStats().select("dir").collect().map(_.getString(0))
    // backfill the middle range with negated x
    val c = t.replaceWhere(
      (1001L to 2000L).map(i => (i, -i * 1.0)).toDF("id", "x").repartition(2),
      col("id").between(1001, 2000))
    assert(c.dataDirs.size === 3)
    assert(beforeDirs.count(c.dataDirs.contains) === 2, "untouched dirs must survive")
    assert(t.read().count() === 3000)
    assert(t.read().filter(col("x") < 0).count() === 1000)
    assert(t.read().filter(col("id") === 1500L).select("x").head().getDouble(0) === -1500.0)
    // untouched dirs kept their stats: a far-range predicate still prunes
    // down to the single 2-file dir that can hold it
    assert(scannedFiles(t.whereSuperset(col("id") <= 500L)) === 2)
    // a shrinking replacement is a targeted delete-and-insert
    t.replaceWhere(rows(2001, 2100), col("id") > 2000L)
    assert(t.read().count() === 2100)
    // replacement rows outside the claimed region are rejected
    val e = intercept[IllegalArgumentException] {
      t.replaceWhere(rows(1, 10), col("id") > 9999L)
    }
    assert(e.getMessage.contains("must all satisfy the predicate"))
    // history before the overwrite still reads
    assert(t.readVersion(2).filter(col("x") < 0).count() === 0)
  }

  test("struct-leaf predicates prune dirs via dotted footer stats") {
    val root = tmpDir("nested-skip")
    def rows(lo: Long, hi: Long) =
      (lo to hi).toDF("id").select(col("id"),
        struct((col("id") * 10).as("score"),
          concat(lit("u"), col("id")).as("name")).as("s"))
        .repartition(2)
    val t = GraftTable.create(spark, root, rows(1, 1000))
    t.append(rows(1001, 2000))
    t.append(rows(2001, 3000))
    // parquet chunks are per LEAF, so "s.score" has real footer ranges:
    // a nested predicate prunes exactly like a flat one
    assert(scannedFiles(t.whereSuperset(col("s.score") <= 5000L)) === 2,
      "nested range predicate should keep only the low dir")
    assert(t.where(col("s.score") <= 5000L).count() === 500)
    // point lookup + conjunction with a top-level column
    assert(scannedFiles(t.whereSuperset(
      col("s.score") === 15000L && col("id") > 0L)) === 2)
    assert(t.where(col("s.score") === 15000L).count() === 1)
    // where(p) ≡ read().filter(p) holds for nested string leaves too
    assert(t.where(col("s.name") === "u1500").count() === 1)
    assert(t.where(col("s.score").isNull).count() === 0)
  }

  test("skippingStats reports per-dir coverage") {
    val root = tmpDir("skipstats")
    val t = GraftTable.create(spark, root, (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.append((101L to 200L).map(i => (i, i * 1.0)).toDF("id", "x"))
    t.buildBloomIndex("id")
    t.append((201L to 300L).map(i => (i, i * 1.0)).toDF("id", "x")) // no sidecar yet
    val rows = t.skippingStats().orderBy("dir").collect()
    assert(rows.length === 3)
    assert(rows.forall(_.getLong(1) === 100L))         // rows per dir
    assert(rows.forall(_.getInt(2) === 2))             // id + x range stats
    assert(rows.forall(_.getInt(3) === 2))             // null bookkeeping
    val bloomed = rows.map(_.getSeq[String](4).nonEmpty)
    assert(bloomed.toSeq === Seq(true, true, false))   // third dir awaits refresh
  }

  test("narrowing casts on attributes never prune (only lossless up-casts strip)") {
    val root = tmpDir("prune-cast")
    val t = GraftTable.create(spark, root,
      Seq((1L, 5.5), (2L, 5.7), (3L, 5.9)).toDF("id", "x"))
    t.append(Seq((4L, 9.1), (5L, 9.9)).toDF("id", "x"))
    // CAST(x AS INT) = 5 matches x ∈ [5, 6): stats [5.5, 5.9] must be
    // KEPT even though 5.5 > 5 — stripping the narrowing cast would
    // prune on [5, 5] and lose all three rows
    assert(t.where(col("x").cast("int") === 5).count() === 3)
    // widening casts still prune: id as LONG literal window
    assert(scannedFiles(t.whereSuperset(col("id").cast("long") <= 3L)) <
      scannedFiles(t.read()))
    assert(t.where(col("id").cast("long") <= 3L).count() === 3)
  }

  test("a corrupt bloom sidecar degrades to no-index and self-heals") {
    val root = tmpDir("bloom-corrupt")
    def rows(k: Long) = (1L to 1000L).filter(_ % 2 == k).map(i => (i, i * 1.0))
      .toDF("id", "x")
    val t = GraftTable.create(spark, root, rows(0))
    t.append(rows(1))
    t.buildBloomIndex("id")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // truncate one sidecar to garbage (a crash mid-write, pre-rename era)
    val dir = new org.apache.hadoop.fs.Path(root, "_bloom/id")
    val victim = fs.listStatus(dir).head.getPath
    val out = fs.create(victim, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    // lookups keep the dir conservatively instead of throwing, and the
    // unreadable sidecar is deleted so the next refresh rebuilds it
    val t2 = GraftTable.forPath(spark, root) // fresh handle: empty bloom cache
    assert(t2.where(col("id") === 500L).count() === 1)
    assert(!fs.exists(victim), "corrupt sidecar not deleted on read")
    t2.buildBloomIndex("id")
    assert(fs.exists(victim), "incremental refresh did not rebuild it")
  }

  test("bloom index refresh is incremental; vacuum reaps orphan sidecars") {
    val root = tmpDir("bloom-lc")
    def rows(lo: Long, hi: Long) = (lo to hi).map(i => (i, i * 1.0)).toDF("id", "x")
    val t = GraftTable.create(spark, root, rows(1, 1000))
    t.append(rows(1001, 2000))
    t.buildBloomIndex("id")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def sidecars() = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_bloom/id"))
      .filter(_.getPath.getName.endsWith(".bf")).map(f => f.getPath.getName -> f.getModificationTime).toMap
    val before = sidecars()
    assert(before.size === 2)
    // append a dir, refresh: existing sidecars untouched, one new one
    t.append(rows(2001, 3000))
    t.buildBloomIndex("id")
    val after = sidecars()
    assert(after.size === 3)
    before.foreach { case (name, ts) =>
      assert(after(name) === ts, s"sidecar $name was rebuilt, not reused")
    }
    assert(t.where(col("id") === 2500L).count() === 1)
    // OPTIMIZE rewrites the snapshot into a new dir; vacuum past retention
    // reclaims the old dirs AND their sidecars
    t.optimize()
    val reclaimed = t.vacuum(retentionHours = 0.0,
      nowMs = System.currentTimeMillis() + 1000)
    assert(reclaimed.exists(_.startsWith("_bloom/id/")),
      s"no sidecars reaped by vacuum: $reclaimed")
    assert(sidecars().isEmpty, "orphan sidecars survived vacuum")
    // the rewritten dir has no sidecar: conservative, still correct
    assert(t.where(col("id") === 2500L).count() === 1)
    t.buildBloomIndex("id")
    assert(sidecars().size === 1)
  }

  test("null-count stats prune IS NULL / IS NOT NULL and all-null dirs") {
    val root = tmpDir("prune-null")
    // dir 0: no `extra` column at all (pre-evolution segment)
    val t = GraftTable.create(spark, root, (1L to 1000L).toDF("id"))
    // dir 1: extra fully populated; dir 2: extra partially null
    t.append((1001L to 2000L).map(i => (i, s"v$i")).toDF("id", "extra"))
    t.append((2001L to 3000L).map(i =>
      (i, if (i % 2 == 0) s"v$i" else null)).toDF("id", "extra"))
    val total = scannedFiles(t.read())

    // IS NOT NULL skips the pre-evolution dir (all-null after alignment)
    val nn = col("extra").isNotNull
    assert(scannedFiles(t.whereSuperset(nn)) < total,
      "IS NOT NULL did not skip the all-null dir")
    assert(t.where(nn).count() === 1500) // 1000 full + 500 odd-null

    // comparisons on the evolved column skip the all-null dir too — an
    // all-null column can never satisfy any comparison
    assert(scannedFiles(t.whereSuperset(col("extra") === "v1500")) < total)
    assert(t.where(col("extra") === "v1500").count() === 1)

    // IS NULL skips the fully-populated dir (null count proven zero),
    // keeps the pre-evolution and partially-null dirs
    val isN = col("extra").isNull
    assert(scannedFiles(t.whereSuperset(isN)) < total,
      "IS NULL did not skip the zero-null dir")
    assert(t.where(isN).count() === 1500) // 1000 aligned + 500 odd

    // id is never null anywhere: IS NULL scans NOTHING
    assert(scannedFiles(t.whereSuperset(col("id").isNull)) === 0)
    assert(t.where(col("id").isNull).count() === 0)
  }

  test("scan-fallback dirs (no row-count key) never trigger absence inference") {
    val root = tmpDir("prune-null-fb")
    val t = GraftTable.create(spark, root, (1L to 100L).toDF("id"))
    t.append((101L to 200L).toDF("id"))
    // simulate the footer-harvest fallback: a head whose dirNulls maps
    // every dir to an EMPTY map (scan harvest has no null bookkeeping) —
    // the all-null inference must not fire without the "" row-count key
    val log = new CommitLog(root, spark.sparkContext.hadoopConfiguration)
    val head = log.latest().get
    log.commit(head.copy(version = head.version + 1,
      dirNulls = head.dataDirs.map(_ -> Map.empty[String, Long]).toMap))
    val t2 = GraftTable.forPath(spark, root)
    assert(t2.where(col("id").isNotNull).count() === 200)
    assert(t2.where(col("id") > 150L).count() === 50)
  }

  test("null skipping never misfires on partition columns") {
    val root = tmpDir("prune-null-part")
    // partition values live in paths, not footers — the absent-column
    // inference must NOT conclude all-null for them
    val t = GraftTable.create(spark, root,
      (1L to 300L).map(i => (i, s"p${i % 3}")).toDF("id", "part"),
      partitionBy = Seq("part"))
    assert(t.where(col("part").isNotNull).count() === 300)
    assert(t.where(col("part") === "p1").count() === 100)
  }

  test("dynamic partition pruning fires on partitioned fact x filtered dim") {
    // The cluster-scale join shape: a fact table partitioned on the join
    // key and a dimension with a selective NON-key filter. Static pruning
    // can't help (the key filter only exists at runtime); DPP inserts a
    // subquery-driven partition filter into the fact scan so only the
    // dimension-selected partitions are read.
    val base = tmpDir("dpp")
    (1L to 1000L).map(i => (i, s"s${i % 10}", i * 1.0))
      .toDF("id", "status", "x")
      .write.partitionBy("status").parquet(base + "/fact")
    // dim must be a real scan: a local relation would constant-fold the
    // selective filter away and the pruning rule would see no predicate
    (0 until 10).map(i => (s"s$i", if (i == 3) "keep" else "drop"))
      .toDF("d_status", "tag")
      .write.parquet(base + "/dim")
    val fact = spark.read.parquet(base + "/fact")
    val dim = spark.read.parquet(base + "/dim").filter(col("tag") === "keep")
    val joined = fact.join(dim, fact("status") === dim("d_status"))
    assert(joined.count() === 100)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n${plan.take(3000)}")
  }
}
