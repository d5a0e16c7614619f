package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned Parquet table with the Delta-capability surface the reference
  * exercises, rebuilt Spark-natively: append / overwrite (M4/M5), MERGE
  * upsert with optional change-detection (M1/M2,
  * /root/reference/consumer/spark-streaming/spark_streaming.py:349-359 and
  * spark_delta_handler.py:222-236), DELETE (M3, spark_streaming.py:381-386),
  * UPDATE, time travel by version/timestamp (S4/S5, notebook cells 21-24),
  * Change Data Feed (S6/M8, notebook cells 25-26), history (S7), VACUUM
  * (S18), OPTIMIZE compaction (S19) and RESTORE (M12, README.md:145).
  *
  * Layout under `root/`:
  *   - `_graft_log/<v>.json`   commit log (see [[CommitLog]])
  *   - `data/v<v>-<sfx>/`      parquet written by commit v (immutable; the
  *                             suffix keeps racing writers off shared paths)
  *   - `_changes/v<v>-<sfx>/`  CDF rows emitted by commit v (recorded in
  *                             the commit, never derived from the version)
  *
  * A snapshot is the union of the `dataDirs` its commit references, so an
  * APPEND adds one dir without touching existing bytes and a RESTORE is a
  * metadata-only commit pointing at old dirs. MERGE/DELETE/UPDATE rewrite the
  * snapshot (full-outer-join / anti-join rewrites) — same write amplification
  * class as unpartitioned Delta, and every step is a plain distributed Spark
  * job: no data ever funnels through the driver (the reference's collected
  * delete-id list, spark_streaming.py:383, becomes a distributed anti-join).
  *
  * Concurrency: optimistic, Delta-style, through one commit cycle
  * ([[TableTxn]]). Every commit is an atomic publish-at-version-N
  * ([[CommitLog.commit]] fails on collision); APPENDS rebase-and-retry on a
  * collision (they commute — both writers' rows land), while
  * snapshot-rewriting operations (merge/delete/update/overwrite/restore)
  * reap their staged dirs and abort with [[ConcurrentWriteException]]
  * because they computed from a stale snapshot — the caller retries
  * against the new head. The reference is
  * single-writer per table (one streaming query per table,
  * spark_streaming.py:461-463); this layer is safe beyond that.
  */
/** One row-level clause of a general MERGE ([[GraftTable.mergeClauses]]) —
  * Delta's `WHEN MATCHED [AND cond] THEN …` / `WHEN NOT MATCHED …` /
  * `WHEN NOT MATCHED BY SOURCE …` family. Clause conditions and assignment
  * values are arbitrary [[Column]]s over the two join sides (qualify with
  * the target/source aliases passed to `mergeClauses`); within one branch,
  * clauses are evaluated in order and the FIRST whose condition holds
  * applies to the row (Delta's contract). */
sealed trait MergeClause { def condition: Option[Column] }
object MergeClause {
  /** `UPDATE SET *` — every column the source carries takes the source
    * value; target-only columns keep their value. Matched branch only. */
  case class UpdateAll(condition: Option[Column] = None) extends MergeClause
  /** `UPDATE SET c = expr, …` — explicit assignments (keys are target
    * column names, case-insensitive); unassigned columns keep the target
    * value. Matched and not-matched-by-source branches. */
  case class Update(assignments: Map[String, Column],
      condition: Option[Column] = None) extends MergeClause
  /** `DELETE` — the target row leaves the snapshot. Matched and
    * not-matched-by-source branches. */
  case class Delete(condition: Option[Column] = None) extends MergeClause
  /** `INSERT *` — source values for source columns, null for target-only
    * columns. Not-matched branch only. */
  case class InsertAll(condition: Option[Column] = None) extends MergeClause
  /** `INSERT (c, …) VALUES (expr, …)` — explicit column list; unassigned
    * columns insert null. Not-matched branch only. */
  case class Insert(assignments: Map[String, Column],
      condition: Option[Column] = None) extends MergeClause
}

final class GraftTable private (
    val spark: SparkSession,
    val root: String) {

  import GraftTable._
  import TableTxn.{Attempt, Committed, Conflict, Rebase, Refuse, Restart, Staged}

  private[table] val log = new CommitLog(root, hadoopConf(spark))
  private[table] def fs: FileSystem = new Path(root).getFileSystem(hadoopConf(spark))

  // ---------------------------------------------------------------- reads

  def version: Long = log.latest().map(_.version).getOrElse(-1L)

  /** True when logical↔physical column mapping is in play: a mapping
    * entry exists (an earlier metadata-only rename) or the table opted in
    * via the `graft.columnMapping.mode=name` property (settable through
    * SET TBLPROPERTIES — Delta's own opt-in shape). SQL RENAME COLUMN
    * routes on this: metadata-only when mapped, honest rewrite else. */
  def columnMappingActive: Boolean = {
    val props = log.latest().map(_.properties).getOrElse(Map.empty)
    props.get("graft.columnMapping.mode").contains("name") ||
      props.keys.exists(_.startsWith(GraftTable.ColMapPrefix))
  }

  /** Snapshot row count from parquet footers — metadata-only, no Spark
    * job. This is the table statistic that sizes downstream algorithm
    * parameters (e.g. LSH band counts via
    * [[graft.sim.Similarity.lshParams]]) without a scan. */
  def rowCount: Long =
    log.latest().map(c =>
      c.dataDirs.map(countDir).sum - c.tombstoneDirs.map(countDir).sum -
        c.dvDirs.map(countDir).sum).getOrElse(0L)

  private def commitFor(v: Long): Commit =
    log.commits().find(_.version == v).getOrElse(
      throw new NoSuchElementException(s"$root has no version $v"))

  private def readCommit(c: Commit): DataFrame = readCommitInternal(c, withPos = false)

  /** [[readCommit]] plus the hidden row-position lineage columns
    * ([[DvFileCol]], [[DvPosCol]]) a positional delete records — sourced
    * from the parquet scan's `_metadata.file_path` / `_metadata.row_index`,
    * the same stable per-file row identity Delta deletion vectors use. */
  private def readCommitWithPos(c: Commit): DataFrame =
    readCommitInternal(c, withPos = true)

  /** The snapshot at version `v` restricted to its first `n` data dirs,
    * with every applicable value tombstone and deletion vector applied —
    * the Delta export bridge ([[graft.sources.DeltaExport]]) materializes
    * exactly the tombstone-covered prefix when mirroring a MoR version,
    * leaving dirs beyond the covers (pure appends) untouched in the log. */
  private[graft] def readMorPrefix(v: Long, n: Int): DataFrame =
    readCommitInternal(commitFor(v), withPos = false, upToDirs = n)

  // ------------------------------------------------------- column mapping
  // Every byte on disk carries PHYSICAL column names; everything above the
  // read/write boundary speaks LOGICAL names. The two meet in exactly four
  // shims: physSchemaOf (declared read schema), toLogicalDf (after a scan),
  // toPhysicalDf (before a write), and the stats-key remap in metaFor.
  // With no metadata-only rename ever issued, the map is empty and all
  // four are identity — zero cost on the common path.

  /** Logical→physical names of a property map (empty = identity). */
  private def colMapOf(props: Map[String, String]): Map[String, String] =
    props.iterator.collect {
      case (k, v) if k.startsWith(GraftTable.ColMapPrefix) =>
        k.stripPrefix(GraftTable.ColMapPrefix) -> v
    }.toMap

  /** Head-commit mapping — what [[writeData]]/[[writeChanges]] write with. */
  private def colMapAtHead: Map[String, String] =
    colMapOf(log.latest().map(_.properties).getOrElse(Map.empty))

  /** `schema` with fields renamed to their physical names. */
  private def physSchemaOf(schema: StructType,
      cmap: Map[String, String]): StructType =
    if (cmap.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))

  /** Rename a scanned frame's physical columns back to logical names. */
  private def toLogicalDf(df: DataFrame, cmap: Map[String, String]): DataFrame =
    cmap.foldLeft(df) { case (d, (lg, ph)) =>
      if (lg == ph) d else d.withColumnRenamed(ph, lg) }

  /** Rename a logical frame's columns to physical names for writing. A
    * rename whose physical target ALSO exists as a distinct column (only
    * reachable by overwriting with a schema that resurrects an old name)
    * fails loudly rather than writing ambiguous files. */
  private def toPhysicalDf(df: DataFrame, cmap: Map[String, String]): DataFrame = {
    if (cmap.isEmpty) return df
    val cols = df.columns.toSet
    val live = cmap.filter { case (lg, ph) => lg != ph && cols.contains(lg) }
    val clash = live.values.toSet.intersect(cols -- live.keys)
    require(clash.isEmpty,
      s"write to $root: column(s) ${clash.mkString(", ")} collide with the " +
        "physical name of a renamed column — pick different names")
    live.foldLeft(df) { case (d, (lg, ph)) => d.withColumnRenamed(lg, ph) }
  }

  /** Physical names currently claimed by live columns (the collision set
    * for new logical names) plus those retired by metadata-only DROPs. */
  private def claimedPhysNames(schema: StructType,
      props: Map[String, String]): Set[String] = {
    val cmap = colMapOf(props)
    schema.fieldNames.map(n => cmap.getOrElse(n, n)).toSet ++
      props.keys.filter(_.startsWith(DroppedColPrefix))
        .map(_.stripPrefix(DroppedColPrefix))
  }

  private def readCommitInternal(c: Commit, withPos: Boolean,
      upToDirs: Int = Int.MaxValue, withRowId: Boolean = false): DataFrame = {
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    val cmap = colMapOf(c.properties)
    val physSchema = physSchemaOf(schema, cmap)
    // Row-id reads ALSO scan the hidden materialized id column: dirs
    // written by a plain append lack it and read back null (explicit-
    // schema semantics), which is exactly the "derive from metadata"
    // signal the coalesce in [[readWithRowIdsOf]] keys on. Tombstone
    // anti-joins keep matching on the LOGICAL schema only.
    val scanSchema =
      if (!withRowId) physSchema
      else StructType(physSchema.fields :+
        org.apache.spark.sql.types.StructField(
          RowIdCol, org.apache.spark.sql.types.LongType))
    val dirs = c.dataDirs.take(upToDirs).map(d => new Path(root, d))
    val missing = dirs.filterNot(fs.exists)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"version ${c.version} of $root is no longer available (vacuumed dirs: ${missing.mkString(", ")})")
    // Positional deletion vectors subtract by (file, row_index) — a
    // per-file position FILTER inside the scan's projection, NO join: the
    // inline predicate broadcasts kilobytes of positions through the plan
    // (Delta's DV read shape). Only a pathologically large DV (past
    // `spark.graft.dv.inlineMaxEntries`) falls back to an anti-join.
    val dvEntryCount = c.dvDirs.map(countDir).sum
    val dvInline: Option[Map[String, Seq[Long]]] =
      if (c.dvDirs.isEmpty || dvEntryCount > dvInlineMax) None
      else Some(dvEntriesOf(c))
    val needPos = withPos || c.dvDirs.nonEmpty || withRowId
    def readDirs(ds: Seq[Path]): DataFrame = {
      val base =
        if (ds.isEmpty) {
          val df0 = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          val df = if (withRowId) df0.withColumn(RowIdCol, lit(null).cast("long")) else df0
          if (needPos)
            df.withColumn(DvFileCol, lit(null).cast("string"))
              .withColumn(DvPosCol, lit(null).cast("long"))
          else df
        } else {
          // Explicit schema (from the commit) rather than mergeSchema: no
          // footer sampling job, stable column order, and dirs written before
          // an additive schema change read back with nulls for new columns.
          def one(reader: org.apache.spark.sql.DataFrameReader, path: Seq[String]): DataFrame = {
            val df0 = reader.schema(scanSchema).parquet(path: _*)
            // _metadata is per-scan: derive the lineage columns before any
            // union so they ride the row through the rest of the plan.
            val df = toLogicalDf(
              if (needPos)
                df0.withColumn(DvFileCol, col("_metadata.file_path"))
                  .withColumn(DvPosCol, col("_metadata.row_index"))
              else df0, cmap)
            df
          }
          if (c.partitionCols.isEmpty) one(spark.read, ds.map(_.toString))
          else
            // Hive-partitioned layout: partition values live in dir names
            // under each version dir, so discovery needs a basePath per dir;
            // the union keeps pushdown + partition pruning in every branch.
            ds.map(d => one(spark.read.option("basePath", d.toString), Seq(d.toString)))
              .reduce(_ unionByName _)
        }
      val subtracted =
        if (c.dvDirs.isEmpty || ds.isEmpty) base
        else dvInline match {
          case Some(byFile) if byFile.isEmpty => base // delete matched no rows
          case Some(byFile) =>
            // One hash lookup + binary search per row, codegen'd — cost
            // independent of how many files carry deletions (vs an OR
            // chain of per-file string equalities).
            val dead = org.apache.spark.sql.graftnative.DvExpressions.positionDeleted(
              col(DvFileCol), col(DvPosCol),
              byFile.map { case (f, ps) => f -> ps.toArray })
            base.filter(!coalesce(dead, lit(false)))
          case None =>
            val entries = spark.read
              .parquet(c.dvDirs.map(d => new Path(root, d).toString): _*)
              .select(col("file").as(DvFileCol), col("pos").as(DvPosCol))
            base.join(entries, Seq(DvFileCol, DvPosCol), "left_anti")
        }
      if (needPos && !withPos) subtracted.drop(DvFileCol, DvPosCol) else subtracted
    }

    if (c.tombstoneDirs.isEmpty) readDirs(dirs)
    else {
      // Merge-on-read: subtract tombstone rows by NULL-SAFE anti-join over
      // every column. A duplicate of a predicate-deleted row necessarily
      // matched the same predicate, so whole-row subtraction IS
      // predicate-delete semantics — no row id, no key column, no hashing.
      // Each tombstone applies only to the data dirs that existed when it
      // was written (its recorded coverage prefix — appends only extend
      // the dir list): a row appended AFTER the delete is never
      // suppressed, even if value-identical. The read is a union of dir
      // segments, each anti-joined against exactly the tombstones that
      // cover it; rewrites clear all of this.
      def antiJoin(base: DataFrame, tombs: Seq[String]): DataFrame = {
        // Tombstone files carry physical names too (written through the
        // same boundary); the positional toDF restores logical ts-names.
        val ts = spark.read.schema(physSchema)
          .parquet(tombs.map(d => new Path(root, d).toString): _*)
          .toDF(schema.fieldNames.map("__ts_" + _): _*)
        val cond = schema.fieldNames
          .map(f => base(f) <=> ts("__ts_" + f))
          .reduce(_ && _)
        base.join(ts, cond, "left_anti")
      }
      // Coverage indexes clamp to the read window (`upToDirs`): a
      // tombstone covering dirs [0, l) applies in full to any prefix
      // read of at most l dirs — identical arithmetic when unrestricted.
      val n = math.min(c.dataDirs.length, upToDirs)
      def coverOf(t: String): Int = math.min(n,
        c.properties.get(TombstoneCoverPrefix + t).map(_.toInt)
          .getOrElse(c.dataDirs.length))
      val covers = c.tombstoneDirs.map(t => t -> coverOf(t))
      val bounds = (covers.map(_._2) :+ n).distinct.sorted
      val segments = (0 +: bounds.dropRight(1)).zip(bounds)
      segments.map { case (a, b) =>
        val seg = readDirs(dirs.slice(a, b))
        val applicable = covers.collect { case (t, l) if l >= b => t }
        if (applicable.isEmpty || a == b) seg else antiJoin(seg, applicable)
      }.reduce(_ unionByName _)
    }
  }

  /** Current snapshot (SURVEY S3). */
  def read(): DataFrame = readCommit(
    log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root")))

  /** Current snapshot with the stable [[RowIdCol]] id column appended —
    * see the row-tracking contract at [[RowIdCol]]. Requires
    * `graft.rowTracking=true`. The derivation adds one metadata-light
    * job (per-file row counts, zero data columns projected) — only this
    * explicit lineage read pays it, never a plain [[read]]. */
  def readWithRowIds(): DataFrame = {
    val c = log.latest().getOrElse(
      throw new NoSuchElementException(s"no commits at $root"))
    readWithRowIdsOf(c)
  }

  private[table] def readWithRowIdsOf(c: Commit): DataFrame = {
    require(rowTrackingOn(c),
      s"row tracking is not enabled on $root — set $RowTrackingProp=true")
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(RowIdCol),
      s"$root has a data column named $RowIdCol — row tracking reserves it")
    val df = readCommitInternal(c, withPos = true, withRowId = true)
    val bases = rowIdFileBases(c)
    df.withColumn(RowIdCol,
        coalesce(col(RowIdCol),
          element_at(typedLit(bases), col(DvFileCol)) + col(DvPosCol)))
      .drop(DvFileCol, DvPosCol)
  }

  /** Per-dir row-id range bases: a pure fold over the immutable log —
    * every dir is allocated `[base, base + rows)` at its FIRST appearance,
    * using the exact footer row count the commit recorded. Ranges are
    * never reused (rewritten dirs keep their consumed range), which is
    * what makes fresh derived ids disjoint from every materialized id. */
  private def dirRowIdBases(): Map[String, Long] = {
    var high = 0L
    val bases = scala.collection.mutable.HashMap.empty[String, Long]
    log.commits().foreach { c =>
      c.dataDirs.foreach { d =>
        if (!bases.contains(d)) {
          val rows = c.dirNulls.get(d).flatMap(_.get("")).filter(_ >= 0L)
            .getOrElse(throw new IllegalStateException(
              s"row tracking on $root needs the exact footer row count of " +
                s"$d, which version ${c.version} did not record"))
          bases(d) = high
          high += rows
        }
      }
    }
    bases.toMap
  }

  /** `_metadata.file_path` → first row id of that file, for the commit's
    * data dirs: dir base (from the log fold) + cumulative row counts of
    * the dir's files in path order. Counts come from a zero-data-column
    * scan so the keys are EXACTLY the strings the read's `_metadata`
    * produces — no URI-rendering assumptions. Map size = file count
    * (metadata class, same as the DV inline map). */
  private def rowIdFileBases(c: Commit): Map[String, Long] = {
    if (c.dataDirs.isEmpty) return Map.empty
    val dirBases = dirRowIdBases()
    val physSchema = physSchemaOf(
      DataType.fromJson(c.schemaJson).asInstanceOf[StructType],
      colMapOf(c.properties))
    val counts = spark.read.schema(physSchema)
      .option("recursiveFileLookup", "true")
      .parquet(c.dataDirs.map(d => new Path(root, d).toString): _*)
      .select(col("_metadata.file_path").as("f"))
      .groupBy("f").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    counts.groupBy { case (f, _) =>
        c.dataDirs.find(d => f.contains(s"/$d/")).getOrElse(
          throw new IllegalStateException(
            s"row tracking on $root cannot attribute $f to a data dir"))
      }
      .flatMap { case (d, files) =>
        var base = dirBases(d)
        files.sortBy(_._1).map { case (f, n) => val b = base; base += n; f -> b }
      }
  }

  /** Data-skipping read: the current snapshot restricted to data dirs whose
    * recorded [min, max] for `colName` intersects [lo, hi] (timestamps in
    * epoch MICROS, numerics as doubles — the encoding of
    * [[Commit.dirStats]]). Dirs without stats are conservatively kept, so
    * the result is a SUPERSET of the matching rows: apply the precise
    * predicate on top. For a long-running append table (the audit log) a
    * time-bounded query then scans a handful of dirs instead of years of
    * history — Delta-style file skipping at dir granularity. */
  def readPruned(colName: String, lo: Double, hi: Double): DataFrame = {
    val c = log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
    // Tombstone coverage is positional over dataDirs; dropping dirs would
    // misalign it. Merge-on-read deletes are transient (any rewrite clears
    // them), so just skip the skipping until then — still a superset read.
    if (c.tombstoneDirs.nonEmpty) return readCommit(c)
    // CHECK constraints are table-WIDE invariants (every committed row of
    // every dir was validated against them), so a range constraint on this
    // column stands in where a dir recorded no stats, and a query window
    // the constraint contradicts prunes the whole scan at planning time —
    // zero dirs listed, zero files read.
    val cb = constraintBounds(c).get(colName)
    val keep =
      if (cb.exists { case (mn, mx) => mx < lo || mn > hi }) Nil
      else c.dataDirs.filter { d =>
        c.dirStats.get(d).flatMap(_.get(colName)).orElse(cb) match {
          case Some((mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    readCommit(c.copy(dataDirs = keep))
  }

  /** Per-column [min, max] bounds implied by the table's CHECK constraints
    * — simple numeric comparisons (`x > 0`, `100 >= x`, `x = 5`) and
    * conjunctions of them, parsed with Catalyst; anything else contributes
    * nothing (conservative). Strict bounds widen to closed ones: a
    * SUPERSET range can only reduce skipping, never lose rows. */
  private def constraintBounds(c: Commit): Map[String, (Double, Double)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    val Inf = Double.PositiveInfinity
    def num(e: Expression): Option[Double] = e match {
      case Literal(v: java.lang.Number, _) => Some(v.doubleValue())
      case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
      case _ => None
    }
    def walk(e: Expression): Seq[(String, (Double, Double))] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case GreaterThan(a: UnresolvedAttribute, v) => num(v).map(d => a.name -> (d, Inf)).toSeq
      case GreaterThanOrEqual(a: UnresolvedAttribute, v) => num(v).map(d => a.name -> (d, Inf)).toSeq
      case LessThan(a: UnresolvedAttribute, v) => num(v).map(d => a.name -> (-Inf, d)).toSeq
      case LessThanOrEqual(a: UnresolvedAttribute, v) => num(v).map(d => a.name -> (-Inf, d)).toSeq
      case EqualTo(a: UnresolvedAttribute, v) => num(v).map(d => a.name -> (d, d)).toSeq
      // flipped literal-first forms
      case GreaterThan(v, a: UnresolvedAttribute) => num(v).map(d => a.name -> (-Inf, d)).toSeq
      case GreaterThanOrEqual(v, a: UnresolvedAttribute) => num(v).map(d => a.name -> (-Inf, d)).toSeq
      case LessThan(v, a: UnresolvedAttribute) => num(v).map(d => a.name -> (d, Inf)).toSeq
      case LessThanOrEqual(v, a: UnresolvedAttribute) => num(v).map(d => a.name -> (d, Inf)).toSeq
      case EqualTo(v, a: UnresolvedAttribute) => num(v).map(d => a.name -> (d, d)).toSeq
      case _ => Nil
    }
    c.properties.toSeq
      .collect { case (k, p) if k.startsWith(ConstraintPrefix) =>
        try walk(spark.sessionState.sqlParser.parseExpression(p))
        catch { case scala.util.control.NonFatal(_) => Nil }
      }
      .flatten
      .groupMapReduce(_._1)(_._2) { case ((a1, b1), (a2, b2)) =>
        (math.max(a1, a2), math.min(b1, b2)) // conjunction = intersection
      }
  }

  /** Time travel by version (S4, `option("versionAsOf", n)`). */
  def readVersion(v: Long): DataFrame = readCommit(commitFor(v))

  /** Time travel by timestamp (S5): max version with commit ts <= tsMs,
    * matching delta-rs's history walk (delta_handler.py:247-264). */
  def readAsOf(tsMs: Long): DataFrame = readVersion(versionAsOf(tsMs))

  /** The version a timestamp resolves to (the [[readAsOf]] rule, on the
    * monotonicized history clock) — RESTORE TO TIMESTAMP and the
    * connector's `timestampAsOf` both route through this. */
  def versionAsOf(tsMs: Long): Long = {
    val cs = commitsAdjusted().filter(_.tsMs <= tsMs)
    if (cs.isEmpty)
      throw new NoSuchElementException(s"$root has no version at or before ts $tsMs")
    cs.last.version
  }

  /** CDF bounded by TIMESTAMPS (Delta's `startingTimestamp` /
    * `endingTimestamp`): the start resolves to the FIRST commit at or
    * after the instant (you want changes "since t", including a commit
    * stamped exactly t) and the end to the LAST commit at or before it —
    * both on the same adjusted (monotonicized) clock as [[readAsOf]], so
    * a timestamp read off [[history]] round-trips. A start beyond the
    * head is an error, matching delta-spark's
    * ProvidedTimestampAfterLatestCommit. */
  def readChangesAsOf(startTsMs: Long, endTsMs: Long = Long.MaxValue): DataFrame =
    readChanges(changesStartVersionAt(startTsMs),
      if (endTsMs == Long.MaxValue) Long.MaxValue else versionAsOf(endTsMs))

  /** First version whose adjusted commit ts is ≥ `tsMs`. */
  def changesStartVersionAt(tsMs: Long): Long = {
    val cs = commitsAdjusted().filter(_.tsMs >= tsMs)
    if (cs.isEmpty)
      throw new NoSuchElementException(
        s"$root: startingTimestamp $tsMs is after the latest commit")
    cs.head.version
  }

  /** Commits with timestamps MONOTONICIZED by running max (Delta's
    * adjusted-timestamp rule): concurrent writers' clocks — and rebases
    * that stamp wall time before the version race settles — can record a
    * commit whose recorded ts precedes its predecessor's, but "as of t"
    * must always resolve to a version PREFIX. Each commit's effective ts
    * is max(recorded, predecessor effective + 1 ms); [[readAsOf]],
    * [[whereAsOf]] and [[history]] all see the same adjusted clock, so
    * a timestamp read off history round-trips through time travel. */
  private def commitsAdjusted(): Seq[Commit] = {
    var last = Long.MinValue
    log.commits().map { c =>
      val eff = if (c.tsMs > last) c.tsMs else last + 1
      last = eff
      if (eff == c.tsMs) c else c.copy(tsMs = eff)
    }
  }

  /** Table history (S7) as a DataFrame: version, timestamp, operation and
    * flattened operationMetrics — the columns the reference reads off
    * `DeltaTable.history()` (spark_delta_handler.py:244-251). */
  /** DESCRIBE DETAIL analogue: one row of table-level facts — location,
    * head version/timestamp, dir/file/byte tallies, partition columns,
    * properties, merge-on-read state. Commit metadata plus one listing
    * pass over the head's dirs; zero data rows read. */
  def detail(): DataFrame = {
    import spark.implicits._
    val c = commitsAdjusted().lastOption.getOrElse(
      throw new NoSuchElementException(s"no commits at $root"))
    val (nFiles, nBytes) = c.dataDirs.foldLeft((0L, 0L)) { case ((nf, nb), d) =>
      val p = if (new Path(d).isAbsolute) new Path(d) else new Path(root, d)
      if (!fs.exists(p)) (nf, nb)
      else {
        val s = fs.getContentSummary(p)
        (nf + s.getFileCount, nb + s.getLength)
      }
    }
    Seq((
      "graft", root, c.version, new java.sql.Timestamp(c.tsMs),
      c.dataDirs.size, nFiles, nBytes, c.partitionCols, c.properties,
      c.tombstoneDirs.size, c.dvDirs.size))
      .toDF("format", "location", "version", "lastModified", "numDirs",
        "numFiles", "sizeInBytes", "partitionColumns", "properties",
        "numTombstoneDirs", "numDvDirs")
  }

  /** GENERATE symlink_format_manifest (Delta parity,
    * `deltaTable.generate("symlink_format_manifest")`): writes
    * `_symlink_format_manifest/manifest` — one absolute data-file URI per
    * line for the HEAD snapshot — so external engines (Trino / Presto /
    * Hive / DuckDB) query the table as plain parquet without understanding
    * the commit log. Pure metadata: one listing pass, zero data rows read;
    * atomic via temp+rename so concurrent readers never see a torn
    * manifest. The manifest is a SNAPSHOT — regenerate after commits
    * (Delta's manifests go stale identically unless auto-manifest is on).
    * Refused while merge-on-read state is pending (tombstones / deletion
    * vectors): a path listing cannot express row-level subtraction —
    * materializeDeletes() first. Works on shallow clones (absolute source
    * dirs are listed as-is). Returns the manifest path. */
  def generateManifest(): Path = {
    val c = log.latest().getOrElse(
      throw new NoSuchElementException(s"no table at $root"))
    require(c.tombstoneDirs.isEmpty && c.dvDirs.isEmpty,
      s"manifest of $root would resurrect deleted rows: the snapshot carries " +
        "merge-on-read deletes — run materializeDeletes() first")
    val files = c.dataDirs.flatMap { d =>
      val p = if (new Path(d).isAbsolute) new Path(d) else new Path(root, d)
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      if (fs.exists(p)) {
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val f = it.next().getPath
          if (f.getName.endsWith(".parquet")) out += fs.makeQualified(f).toString
        }
      }
      out
    }
    val dir = new Path(root, "_symlink_format_manifest")
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".manifest.${System.nanoTime()}.tmp")
    val os = fs.create(tmp, true)
    try os.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
    finally os.close()
    val dest = new Path(dir, "manifest")
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"manifest publish at $dest failed")
    dest
  }

  def history(): DataFrame = {
    import spark.implicits._
    // Adjusted timestamps (see commitsAdjusted): a timestamp read off
    // history must round-trip through readAsOf to the same version.
    val rows = commitsAdjusted().reverse.map { c =>
      (c.version, new java.sql.Timestamp(c.tsMs), c.operation, c.metrics)
    }
    rows.toDF("version", "timestamp", "operation", "operationMetrics")
  }

  /** Change Data Feed scan (S6): every change row committed in
    * [fromVersion, toVersion], with `_change_type` ∈ insert /
    * update_preimage / update_postimage / delete, `_commit_version`,
    * `_commit_timestamp` — the exact surface of
    * `option("readChangeFeed", true)` (notebook cells 25-26, 62).
    *
    * APPEND commits write no `_changes` dir — their change rows ARE the
    * appended files, so (like Delta serving AddFile actions as inserts
    * instead of duplicating the data) their inserts are synthesized here
    * by reading each append's added dirs and stamping the three CDF
    * columns. CREATE stays outside the feed (Delta parity: the initial
    * snapshot is not a change). */
  def readChanges(fromVersion: Long = 0L, toVersion: Long = Long.MaxValue): DataFrame = {
    val cs = log.commits()
      .filter(c => c.version >= fromVersion && c.version <= toVersion)
    val withDirs = cs.map(c => c -> new Path(root, changesDirOf(c)))
      .filter { case (_, d) => fs.exists(d) }
    val appends = appendCommitsBetween(fromVersion - 1, toVersion)
    if (withDirs.isEmpty && appends.isEmpty)
      throw new NoSuchElementException(s"$root has no change data in [$fromVersion, $toVersion]")
    // Union schema computed from the COMMIT LOG (same field-name merge as
    // append's schema evolution) + the three CDF metadata columns, instead
    // of mergeSchema's footer-sampling Spark job — the log already knows
    // every dir's schema, so a CDF read plans with zero extra jobs and a
    // stable column order; dirs written before an additive change read
    // back with nulls for the newer columns, exactly as mergeSchema did.
    // The merge runs in PHYSICAL name space (what the files carry): a
    // metadata-only rename then collapses to ONE merged field — old and
    // new logical names share their physical name — and the single rename
    // back to the range head's logical names happens at the output
    // boundary (Delta CDF's serve-latest-schema contract).
    // The range head's schema joins the merge LAST: it contributes no new
    // field order, but its types upgrade any field a WIDEN COLUMN commit
    // (a pure-metadata commit, so absent from withDirs/appends) widened —
    // without it, a range ending after a widen but before the next data
    // commit would plan the narrow type.
    val rangeHead = log.commits().takeWhile(_.version <= toVersion).lastOption
    val merged = (withDirs.map(_._1) ++ appends.map(_._1) ++ rangeHead.toSeq)
      .map(c => physSchemaOf(
        DataType.fromJson(c.schemaJson).asInstanceOf[StructType],
        colMapOf(c.properties)))
      .reduce((a, b) => StructType(
        // same-name fields keep a's position but take the WIDER type:
        // files written after a metadata-only widen carry the wide
        // physical type, and a narrow read schema cannot decode them
        a.fields.map(f => b.fields.find(_.name == f.name) match {
          case Some(g) if GraftTable.isWidening(f.dataType, g.dataType) =>
            f.copy(dataType = g.dataType)
          case _ => f
        }) ++ b.fields.filterNot(f => a.fieldNames.contains(f.name))))
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
      .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
    val rangeHeadMap = colMapOf(rangeHead.map(_.properties).getOrElse(Map.empty))
    val written =
      if (withDirs.isEmpty) None
      else Some(spark.read.schema(merged).parquet(withDirs.map(_._2.toString): _*))
    // Synthesized append inserts: ONE scan per DISTINCT schema (not per
    // append commit — a month-long stream is tens of thousands of appends,
    // and a relation per commit is a plan-size blowup), each commit's
    // version/timestamp recovered by joining the scan's
    // `_metadata.file_path` dir segment against a small broadcast
    // dir→stamp map. Aligned to the union schema (nulls for later
    // additive columns). Still zero extra jobs at planning time.
    val synthesized = appends.groupBy(_._1.schemaJson).toSeq
      .sortBy(_._2.head._1.version).flatMap { case (sj, cs) =>
      // Physical projection of the group's schema (identical for every
      // commit sharing a schemaJson: physical names are birth-stable).
      val cSchema = physSchemaOf(
        DataType.fromJson(sj).asInstanceOf[StructType],
        colMapOf(cs.head._1.properties))
      def aligned(df: DataFrame, ver: org.apache.spark.sql.Column,
          ts: org.apache.spark.sql.Column): DataFrame =
        df.select(merged.fields.map { f =>
          if (f.name == "_change_type") lit("insert").as(f.name)
          else if (f.name == "_commit_version") ver.as(f.name)
          else if (f.name == "_commit_timestamp") ts.as(f.name)
          else if (cSchema.fieldNames.contains(f.name)) col(s"`${f.name}`")
          else lit(null).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      val rootStr = new Path(root).toString
      val rels = cs.flatMap { case (c, dirs) => dirs.map(d =>
        (d.stripPrefix(rootStr).stripPrefix("/"), c.version, c.tsMs)) }
      val DirPat = "^data/v[0-9]+-[0-9a-f]+$".r
      if (rels.exists(r => DirPat.findFirstIn(r._1).isEmpty))
        // unexpected dir shape (foreign layout): the safe per-commit form
        cs.map { case (c, dirs) =>
          aligned(spark.read.schema(cSchema).parquet(dirs: _*),
            lit(c.version), lit(new java.sql.Timestamp(c.tsMs)))
        }
      else {
        import spark.implicits._
        val KeyC = "__graft_cdf_dir"
        val stampDf = rels.map { case (rel, v, ts) =>
          (rel, v, new java.sql.Timestamp(ts)) }
          .toDF(KeyC + "_k", "__graft_cdf_ver", "__graft_cdf_ts")
        val base = spark.read.schema(cSchema)
          .parquet(cs.flatMap(_._2): _*)
          .withColumn(KeyC, regexp_extract(
            col("_metadata.file_path"), "(data/v[0-9]+-[0-9a-f]+)/", 1))
        val joined = base.join(broadcast(stampDf),
          base(KeyC) === stampDf(KeyC + "_k"), "left")
        // a key miss must FAIL, never mis-stamp silently
        val ver = when(col(KeyC + "_k").isNull,
          raise_error(concat(lit("CDF dir-stamp recovery missed "),
            col("_metadata.file_path"))).cast("long"))
          .otherwise(col("__graft_cdf_ver"))
        Seq(aligned(joined, ver, col("__graft_cdf_ts")))
      }
    }
    toLogicalDf((written.toSeq ++ synthesized).reduce(_ unionByName _),
      rangeHeadMap)
  }

  // ----------------------------------------------------- streaming reads

  /** Absolute `_changes` dir paths of commits in (fromVersion, toVersion]
    * that emitted CDF rows — the unit of progress for the CDF streaming
    * source. Valid for every commit type (that is the point of streaming
    * the change feed). */
  def changeDirsBetween(fromVersionExclusive: Long, toVersionInclusive: Long): Seq[String] =
    log.commits()
      .filter(c => c.version > fromVersionExclusive && c.version <= toVersionInclusive)
      .map(c => new Path(root, changesDirOf(c)))
      .filter(fs.exists)
      .map(_.toString)

  /** Schema of the change feed: table schema + the three CDF metadata
    * columns. */
  def changesSchema: StructType = {
    val head = log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
    DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
      .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
  }

  /** Absolute data-dir paths ADDED by commits in (fromVersion, toVersion] —
    * the unit of progress for the version-aware streaming source
    * ([[org.apache.spark.sql.graftnative.GraftTableSource]]). CREATE/APPEND
    * contribute their new dir; OPTIMIZE contributes nothing (same rows,
    * new files); rewriting operations break the append-only streaming
    * contract and fail loudly. */
  def appendedDirsBetween(fromVersionExclusive: Long, toVersionInclusive: Long): Seq[String] = {
    val all = log.commits()
    val byVersion = all.map(c => c.version -> c).toMap
    all.filter(c => c.version > fromVersionExclusive && c.version <= toVersionInclusive)
      .flatMap { c =>
        c.operation match {
          case "CREATE" | "APPEND" =>
            val prevDirs = byVersion.get(c.version - 1).map(_.dataDirs.toSet).getOrElse(Set.empty[String])
            c.dataDirs.filterNot(prevDirs.contains)
          case "OPTIMIZE" => Nil
          case op => throw new UnsupportedOperationException(
            s"version-aware streaming requires an append-only table; version ${c.version} " +
              s"of $root is $op — stream readChanges() (the CDF) for mutating tables")
        }
      }
      .map(d => new Path(root, d).toString)
  }

  /** APPEND commits in (fromVersion, toVersion] paired with the absolute
    * data dirs each one added — the input both CDF surfaces (batch
    * [[readChanges]] and the streaming
    * [[org.apache.spark.sql.graftnative.GraftChangesSource]]) use to
    * synthesize insert rows: appends write no `_changes` dir, their change
    * rows ARE the appended files. Unlike [[appendedDirsBetween]], mutating
    * commits inside the range contribute nothing here instead of failing —
    * they carry real `_changes` dirs of their own. */
  def appendCommitsBetween(fromVersionExclusive: Long,
      toVersionInclusive: Long): Seq[(Commit, Seq[String])] = {
    val all = log.commits()
    val byVersion = all.map(c => c.version -> c).toMap
    all.filter(c => c.version > fromVersionExclusive &&
        c.version <= toVersionInclusive && c.operation == "APPEND")
      .map { c =>
        val prevDirs = byVersion.get(c.version - 1)
          .map(_.dataDirs.toSet).getOrElse(Set.empty[String])
        c -> c.dataDirs.filterNot(prevDirs.contains)
          .map(d => new Path(root, d).toString)
      }
      .filter(_._2.nonEmpty)
  }

  /** Streaming source over this table's appended data (Delta's
    * `spark.readStream.format("delta")` for the append-only case): new
    * files under `data/` surface as micro-batches as commits land. Valid
    * for APPEND-ONLY tables (the audit log) — a merge/overwrite rewrites
    * the snapshot into new files, which an append-stream would re-emit.
    * For mutating tables, stream [[streamChanges]] instead. */
  def streamAppends(maxFilesPerTrigger: Int = 1000): DataFrame = {
    val head = log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
    val schema = DataType.fromJson(head.schemaJson).asInstanceOf[StructType]
    val cmap = colMapOf(head.properties)
    toLogicalDf(spark.readStream
      .schema(physSchemaOf(schema, cmap))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(new Path(root, "data/*").toString), cmap)
  }

  /** Streaming Change Data Feed (Delta's `readChangeFeed` streaming form):
    * each commit's change rows (insert / update_pre/postimage / delete with
    * `_commit_version`/`_commit_timestamp`) arrive as micro-batches —
    * correct for mutating tables, and exactly the input an incremental MV
    * maintainer consumes ([[graft.pipeline.MaterializedViews]]). */
  def streamChanges(maxFilesPerTrigger: Int = 1000): DataFrame = {
    val head = log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
    val cmap = colMapOf(head.properties)
    val schema = physSchemaOf(
      DataType.fromJson(head.schemaJson).asInstanceOf[StructType], cmap)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
      .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType)
    toLogicalDf(spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(new Path(root, "_changes/*").toString), cmap)
  }

  // --------------------------------------------------------------- writes

  // Dir names carry the ATTEMPTED version (human-readable layout) plus a
  // uniquifying suffix: concurrent writers race toward the same next
  // version, and the physical write must never contend on a shared path —
  // only the commit log arbitrates who owns the version. The suffix costs
  // nothing (commits record exact dir names; nothing derives names from
  // versions).
  private def uniqueSuffix(): String =
    java.util.UUID.randomUUID().toString.take(8)
  private def dataDirName(v: Long): String = f"data/v$v%05d-${uniqueSuffix()}"
  private[table] def changesDirName(v: Long): String = f"_changes/v$v%05d-${uniqueSuffix()}"
  private def dvDirName(v: Long): String = f"dvs/v$v%05d-${uniqueSuffix()}"

  /** Hidden lineage-column names for positional deletes. Prefixed so they
    * can never collide with user schema columns. */
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  /** Row tracking (the Delta `rowTracking` table-feature analogue): with
    * `graft.rowTracking=true`, every row carries a STABLE unique id that
    * survives appends, deletes AND compaction — the handle an incremental
    * downstream (CDC consumer, feature store, audit join) keys on across
    * OPTIMIZE cycles. Two id sources meet in one `coalesce`:
    *
    *  - FRESH dirs derive ids from pure log metadata: each dir is
    *    allocated a contiguous id range at its FIRST appearance
    *    ([[dirRowIdBases]] — a driver-side fold over the immutable log
    *    using the exact footer row counts every commit already records),
    *    and a row's id is `dirBase + fileOffset + row_index`. Nothing is
    *    written at append time — at 100 TB the append path cost is ZERO.
    *  - OPTIMIZE-family rewrites MATERIALIZE the ids they read into a
    *    hidden physical [[RowIdCol]] column of the rewritten files
    *    (Delta's exact mechanism), because the rewritten layout no longer
    *    matches any historical derivation.
    *
    * Uniqueness holds by construction: the fold allocates ranges
    * monotonically over every dir EVER seen (including rewritten ones),
    * so fresh ranges always sit above every id a materialized file can
    * carry. DML rewrites (merge/update CoW) assign fresh ids to the rows
    * they rewrite — Delta's row-tracking v1 semantics exactly. */
  private def RowIdCol: String = GraftTable.RowIdCol
  private val RowTrackingProp = "graft.rowTracking"
  private def rowTrackingOn(c: Commit): Boolean =
    c.properties.get(RowTrackingProp).exists(_.equalsIgnoreCase("true"))

  /** Above this many recorded positions the DV read path switches from the
    * inline per-file filter to an anti-join (an inline set that big would
    * bloat the plan); a DV near this size should be materialized away via
    * [[maybeMaterialize]] regardless. */
  private def dvInlineMax: Long =
    spark.conf.getOption("spark.graft.dv.inlineMaxEntries").map(_.toLong).getOrElse(1000000L)

  // DV dirs are immutable once committed, so the driver-side (file →
  // positions) form is cached per dvDirs-set — one small parquet read per
  // distinct DV state, not per table read. The cache is BOUNDED by total
  // cached positions (`spark.graft.dv.cacheMaxEntries`, default 4×
  // [[dvInlineMax]]): a long-lived handle sees a new DV state per
  // positional delete, and an unbounded map of up-to-1M-entry values is a
  // slow driver leak. Eviction is LRU (access-ordered LinkedHashMap); the
  // just-inserted state always stays (a single over-budget DV must still
  // serve reads).
  private def dvCacheMax: Long =
    spark.conf.getOption("spark.graft.dv.cacheMaxEntries").map(_.toLong)
      .getOrElse(4L * dvInlineMax)
  private val dvEntryCache =
    new java.util.LinkedHashMap[Seq[String], Map[String, Seq[Long]]](16, 0.75f, true)
  private var dvCachedEntries = 0L
  private def entryCount(m: Map[String, Seq[Long]]): Long =
    m.valuesIterator.map(_.length.toLong).sum
  /** (cached states, total cached positions) — for the bound's spec. */
  private[table] def dvCacheStats: (Int, Long) =
    dvEntryCache.synchronized((dvEntryCache.size, dvCachedEntries))
  private def dvEntriesOf(c: Commit): Map[String, Seq[Long]] = {
    dvEntryCache.synchronized {
      val hit = dvEntryCache.get(c.dvDirs)
      if (hit != null) return hit
    }
    // Built outside the lock (it runs a Spark job); a concurrent duplicate
    // build is benign — last insert wins, totals stay consistent.
    val built = spark.read.parquet(c.dvDirs.map(d => new Path(root, d).toString): _*)
      .select("file", "pos")
      .collect()
      .groupBy(_.getString(0))
      .map { case (f, rows) => f -> rows.map(_.getLong(1)).toSeq.sorted }
    dvEntryCache.synchronized {
      val prev = dvEntryCache.put(c.dvDirs, built)
      dvCachedEntries += entryCount(built) - Option(prev).map(entryCount).getOrElse(0L)
      val it = dvEntryCache.entrySet().iterator()
      while (dvCachedEntries > dvCacheMax && it.hasNext) {
        val e = it.next()
        if (e.getKey != c.dvDirs) {
          dvCachedEntries -= entryCount(e.getValue)
          it.remove()
        }
      }
    }
    built
  }

  /** Row count of a just-written dir from its PARQUET FOOTERS — metadata
    * the write already produced, read driver-side with no Spark job (one
    * fewer job per commit on the streaming append path). Falls back to a
    * scan count if footer reading surprises. */
  private def countDir(dir: String): Long =
    try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val files = fs.listFiles(new Path(root, dir), true)
      var total = 0L
      while (files.hasNext) {
        val st = files.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val r = ParquetFileReader.open(
            HadoopInputFile.fromPath(st.getPath, hadoopConf(spark)))
          try total += r.getRecordCount finally r.close()
        }
      }
      total
    } catch {
      case scala.util.control.NonFatal(_) =>
        spark.read.parquet(new Path(root, dir).toString).count()
    }

  private def partitionColsOfHead: Seq[String] =
    log.latest().map(_.partitionCols).getOrElse(Nil)

  // ----------------------------------------------------------- constraints

  /** Registered CHECK constraints (name → SQL predicate). */
  def constraints: Map[String, String] =
    log.latest().map(c => constraintsOf(c.properties)).getOrElse(Map.empty)

  /** [[readPruned]] for STRING columns: the bounds are byte-lexicographic
    * strings, compared through the same order-preserving prefix encoding
    * the footer harvest stored ([[GraftTable.stringPrefixValue]]). As with
    * the numeric form, the result is a SUPERSET — apply the exact
    * predicate on top. A domain/prefix query (`doc_id` between "b" and
    * "bz") then skips every dir whose id range lies elsewhere. */
  def readPrunedString(colName: String, lo: String, hi: String): DataFrame =
    readPruned(colName,
      GraftTable.stringPrefixValue(lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      GraftTable.stringPrefixValue(hi.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Predicate-driven data-skipping scan — the production read path. Walks
    * `predicate`'s Catalyst tree and decides PER DIR whether it could hold
    * a matching row, consulting every skipping source the table maintains:
    * dir-stats min/max (numerics, epoch-micros timestamps, and strings via
    * the order-preserving prefix encoding), CHECK-constraint bounds as a
    * stand-in where a dir recorded no stats, and bloom sidecars for
    * equality/IN points. AND/OR recurse (a dir survives an OR iff either
    * branch might match it); any shape the walker doesn't recognize is
    * conservatively kept. The exact predicate is applied on top, so the
    * result EQUALS `read().filter(predicate)` — callers stop choosing
    * between [[readPruned]]/[[readPrunedString]]/[[readPointLookup]] by
    * hand, exactly as Delta's data skipping is transparent to the query. */
  def where(predicate: Column): DataFrame =
    whereSuperset(predicate).filter(predicate)

  /** Register the current snapshot as a TEMP VIEW whose plain-SQL queries
    * get the same dir-level data skipping [[where]] performs — the
    * injected optimizer rule (`GraftScanSkipping`, via
    * `graft.functions.GraftSparkExtensions`) recognizes the view's scan
    * relation, re-derives the kept-dir set from each query's own filter
    * condition, and swaps in a pruned file listing before Spark lists a
    * file. `SELECT * FROM v WHERE doc_id = 'x'` then consults range
    * stats, string prefixes, constraint bounds, null counts and bloom
    * sidecars exactly like the programmatic path — Delta's
    * transparent-skipping UX (PrepareDeltaScan) on this engine's commit
    * metadata. The view pins THIS version's snapshot (like any view over
    * a read), so the skipping metadata is registered alongside it. */
  def view(name: String): Unit = view(name, -1L)

  /** [[view]] pinned to an explicit version — the SQL surface of time
    * travel (`FOR VERSION AS OF` without v2-catalog support): a head view
    * and any number of historical views of the same table coexist, each
    * with its own snapshot's skipping metadata (including metadata-only
    * COUNT/MIN/MAX answers against the historical stats). */
  def view(name: String, versionAsOf: Long): Unit = {
    val c =
      if (versionAsOf < 0)
        log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
      else commitFor(versionAsOf)
    // The view's plan and the registered pruning metadata must pin the
    // SAME commit — readCommit(c), not read(), or a commit racing in
    // between leaves a view whose paths the registry can't match
    // (silently unprunable until re-registered).
    readCommit(c).createOrReplaceTempView(name)
    SqlSkipping.register(qualifiedRootString, this, c)
    org.apache.spark.sql.graftnative.GraftOps.enableScanSkipping(spark)
  }

  /** Drop a view registered by [[view]] and release its registry entry
    * (the registry strongly holds the table — long-lived services that
    * register many ephemeral tables should pair view/dropView). */
  def dropView(name: String): Unit = {
    spark.catalog.dropTempView(name)
    SqlSkipping.unregister(qualifiedRootString)
  }

  private def qualifiedRootString: String = {
    val p = new Path(root)
    p.getFileSystem(hadoopConf(spark)).makeQualified(p).toString
  }

  /** Dir-level pruning for the SQL rule: given the scan's root paths (all
    * must be data dirs of `c` — else None, the relation isn't this
    * snapshot's plain scan) and a query's analyzed/optimized filter
    * condition, return the paths that may hold matching rows. Same
    * conservative contract as [[whereSuperset]]. */
  private[table] def prunePaths(
      c: Commit,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      paths: Seq[Path]): Option[Seq[Path]] = {
    if (c.tombstoneDirs.nonEmpty) return None // positional coverage (readPruned)
    val fsys = new Path(root).getFileSystem(hadoopConf(spark))
    val byQualified = c.dataDirs
      .map(d => fsys.makeQualified(new Path(root, d)).toString -> d).toMap
    val rel = paths.map(p => byQualified.get(fsys.makeQualified(p).toString))
    if (rel.exists(_.isEmpty)) return None
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    val cb = constraintBounds(c)
    val normalized = normalizeForPruning(cond)
    Some(paths.zip(rel.flatten).collect {
      case (p, d) if dirMayMatch(normalized, c, d, schema, cb) => p
    })
  }

  /** COUNT answers derivable from commit metadata ALONE — the data behind
    * the metadata-only aggregate rewrite (Delta's
    * OptimizeMetadataOnlyDeltaQuery analogue): `colName = None` is
    * `COUNT(*)` over `dirs`, `Some(col)` is `COUNT(col)` (non-null rows,
    * row count minus the footer null count). Returns None whenever the
    * metadata cannot answer EXACTLY — a dir whose harvest recorded no row
    * count, an unknown (-1) null count, a partition column (values live
    * in paths, not footers) or nested type (null counts are per leaf), or
    * any merge-on-read state (tombstones/DVs subtract rows the commit
    * doesn't itemize) — so a rewrite built on a Some is always safe. */
  private[table] def metadataCount(
      c: Commit, dirs: Seq[String], colName: Option[String]): Option[Long] = {
    if (c.tombstoneDirs.nonEmpty || c.dvDirs.nonEmpty) return None
    if (!dirs.forall(c.dataDirs.contains)) return None
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    def rowCount(d: String): Option[Long] =
      c.dirNulls.get(d).flatMap(_.get("")).filter(_ >= 0)
    def answered(d: String): Option[Long] = colName match {
      case None => rowCount(d)
      case Some(n) if c.partitionCols.contains(n) => None
      case Some(n) =>
        rowCount(d).flatMap { r =>
          c.dirNulls(d).get(n) match {
            case Some(cnt) if cnt >= 0 => Some(r - cnt)
            case Some(_) => None // -1: the footer didn't say
            case None =>
              // absent from the dir's files = all-null after schema
              // alignment — valid only for atomic top-level columns
              // (same inference rule as provablyAllNull in dirMayMatch)
              schema.find(_.name == n).collect {
                case f if (f.dataType match {
                  case _: StructType => false
                  case _: org.apache.spark.sql.types.ArrayType => false
                  case _: org.apache.spark.sql.types.MapType => false
                  case _ => true
                }) => 0L
              }
          }
        }
    }
    dirs.foldLeft(Option(0L)) { (acc, d) =>
      for (a <- acc; v <- answered(d)) yield a + v
    }
  }

  /** Exact MIN (`isMin`) or MAX of `colName` over `dirs` from commit
    * metadata alone — the MIN/MAX arm of the metadata-only aggregate
    * rewrite. Returns None unless the answer is PROVABLY exact:
    *   - the column type's stats encoding is value-exact and invertible:
    *     byte/short/int/date (int32 footer values), long and
    *     timestamp[_ntz] (int64/micros) — decimals (±1 ULP widened),
    *     strings (6-byte prefixes) and float/double (NaN footer
    *     semantics) never qualify;
    *   - every dir either has footer stats for the column or provably
    *     holds no values of it (all-null / pre-evolution);
    *   - the winning stat is integral and below 2^52, so no footer-side
    *     unit conversion (which widens by one ULP and de-integralizes)
    *     or double rounding can hide;
    *   - no merge-on-read state (a deleted row could BE the extreme).
    * Some(None) = provably no values at all (SQL answer: NULL). The
    * value is returned in Catalyst internal form (Int days, Long
    * micros…), ready for a LocalRelation row. */
  private[table] def metadataExtreme(
      c: Commit, dirs: Seq[String], colName: String, isMin: Boolean): Option[Option[Any]] = {
    import org.apache.spark.sql.types._
    if (c.tombstoneDirs.nonEmpty || c.dvDirs.nonEmpty) return None
    if (!dirs.forall(c.dataDirs.contains)) return None
    if (c.partitionCols.contains(colName)) return None // values live in paths
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    val field = schema.find(_.name == colName).getOrElse(return None)
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => ()
      case _ => return None
    }
    // Per dir: Some(Some(mm)) contributes a range, Some(None) provably
    // contributes no values (min/max ignore nulls), None disqualifies.
    val per: Seq[Option[Option[(Double, Double)]]] = dirs.map { d =>
      c.dirStats.get(d).flatMap(_.get(colName)) match {
        case Some(mm) => Some(Some(mm))
        case None =>
          val allNull = c.dirNulls.get(d).exists { m =>
            m.get("").exists(_ >= 0) && (m.get(colName) match {
              case Some(cnt) => cnt >= 0 && m("") == cnt
              case None => true // recorded dir, column absent from files
            })
          }
          if (allNull) Some(None) else None
      }
    }
    if (per.exists(_.isEmpty)) return None
    val ranges = per.flatten.flatten
    if (ranges.isEmpty) return Some(None)
    val v = if (isMin) ranges.map(_._1).min else ranges.map(_._2).max
    if (v != math.rint(v) || math.abs(v) >= 4503599627370496.0 /* 2^52 */) return None
    Some(Some(field.dataType match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType | DateType => v.toInt
      case _ => v.toLong // Long / Timestamp(NTZ) epoch micros
    }))
  }

  /** The snapshot-relative dir names behind a scan's root paths — None if
    * any path isn't one of the snapshot's data dirs. */
  private def relDirsOf(c: Commit, paths: Seq[Path]): Option[Seq[String]] = {
    val fsys = new Path(root).getFileSystem(hadoopConf(spark))
    val byQualified = c.dataDirs
      .map(d => fsys.makeQualified(new Path(root, d)).toString -> d).toMap
    val rel = paths.map(p => byQualified.get(fsys.makeQualified(p).toString))
    if (rel.exists(_.isEmpty)) None else Some(rel.flatten.distinct)
  }

  /** [[metadataCount]] keyed by a scan's root paths instead of relative
    * dir names — the optimizer-rule entry point (via
    * [[SqlSkipping.metadataCount]]). A path that isn't one of the
    * snapshot's data dirs disqualifies the whole answer. */
  private[table] def metadataCountForPaths(
      c: Commit, colName: Option[String], paths: Seq[Path]): Option[Long] =
    relDirsOf(c, paths).flatMap(metadataCount(c, _, colName))

  /** [[metadataExtreme]] keyed by a scan's root paths. */
  private[table] def metadataExtremeForPaths(
      c: Commit, colName: String, isMin: Boolean, paths: Seq[Path]): Option[Option[Any]] =
    relDirsOf(c, paths).flatMap(metadataExtreme(c, _, colName, isMin))

  /** [[where]] against a time-travel snapshot: the same predicate-driven
    * skipping over `versionAsOf = v` — a point-in-time audit query on a
    * long table prunes exactly like a head read (each commit carries its
    * own dirStats/dirNulls, so the historical snapshot has its own). */
  def whereVersion(v: Long, predicate: Column): DataFrame =
    whereSupersetOf(commitFor(v), predicate).filter(predicate)

  /** Skipping-metadata coverage report, one row per data dir of the
    * current snapshot: how prunable is this table, and which maintenance
    * job is missing where. `stats_cols` / `null_cols` count the columns
    * with range / null bookkeeping, `rows` is the footer row count (-1
    * where the scan-fallback harvest recorded none), `bloom_cols` lists
    * the indexed columns whose sidecar covers the dir — the operator's
    * answer to "why didn't that query skip". Metadata-only, no Spark job
    * over table data. */
  def skippingStats(): DataFrame = {
    import spark.implicits._
    val c = log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
    val bloomCols: Seq[String] = {
      val p = new Path(root, "_bloom")
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
    }
    // on-disk bloom dirs carry physical names; report logical ones
    val toLogical = colMapOf(c.properties)
      .collect { case (lg, ph) if lg != ph => ph -> lg }
    c.dataDirs.map { d =>
      val nulls = c.dirNulls.getOrElse(d, Map.empty)
      (d,
        nulls.getOrElse("", -1L),
        c.dirStats.get(d).map(_.size).getOrElse(0),
        (nulls - "").size,
        bloomCols.filter(col => fs.exists(bloomPath(col, d)))
          .map(n => toLogical.getOrElse(n, n)))
    }.toDF("dir", "rows", "stats_cols", "null_cols", "bloom_cols")
  }

  /** [[whereVersion]] by timestamp ([[readAsOf]]'s resolution rule). */
  def whereAsOf(tsMs: Long, predicate: Column): DataFrame = {
    val cs = commitsAdjusted().filter(_.tsMs <= tsMs)
    if (cs.isEmpty)
      throw new NoSuchElementException(s"$root has no version at or before ts $tsMs")
    whereSupersetOf(cs.last, predicate).filter(predicate)
  }

  /** The pruned-but-unfiltered scan behind [[where]] (test seam: what
    * files would Spark list). Same SUPERSET contract as [[readPruned]]. */
  private[table] def whereSuperset(predicate: Column): DataFrame =
    whereSupersetOf(
      log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root")),
      predicate)

  private def whereSupersetOf(c: Commit, predicate: Column): DataFrame = {
    // Value-tombstone coverage is positional over dataDirs (see readPruned);
    // skip the skipping, keep the semantics.
    if (c.tombstoneDirs.nonEmpty) return readCommit(c)
    readCommit(c.copy(dataDirs = dirsMayMatching(c, predicate)))
  }

  /** The data dirs of `c` that MAY hold rows matching `predicate` — the
    * shared dir-selection core of [[where]]/[[whereVersion]] and
    * selective maintenance ([[optimizeWhere]]). Superset semantics. */
  private def dirsMayMatching(c: Commit, predicate: Column): Seq[String] = {
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    // The Column DSL yields UNRESOLVED function trees ("=", "and", …), not
    // Catalyst comparison nodes. Analyze the predicate against an empty
    // relation with the table's schema: the analyzer resolves functions to
    // EqualTo/And/…, type-coerces both sides (inserting the Casts that
    // make `id = '1500'` mean what Spark will execute), and we then fold
    // literal-side casts and strip value-preserving numeric casts off
    // attributes. Analysis failure (e.g. `_metadata` references the dummy
    // relation lacks) degrades to an unpruned scan, never an error here —
    // the caller's real filter reports it with full context.
    val cond: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      try {
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
          .filter(predicate).queryExecution.analyzed.collectFirst {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              normalizeForPruning(f.condition)
          }
      } catch { case scala.util.control.NonFatal(_) => None }
    cond match {
      case Some(e) =>
        val cb = constraintBounds(c)
        c.dataDirs.filter(d => dirMayMatch(e, c, d, schema, cb))
      case None => c.dataDirs
    }
  }

  /** Post-analysis cleanup that makes the condition tree matchable:
    * literal-side casts evaluate to typed literals (the analyzer wrapped
    * them, constant folding hasn't run yet), and numeric→numeric widening
    * casts come OFF attributes — the double stats encoding of a value is
    * identical across int/long/float/double/decimal, so pruning through
    * the cast is exact. Casts that change the VALUE's encoding (date→
    * timestamp is a ×86400e6 unit change, string→anything) stay, and an
    * attribute under a kept cast simply never prunes (conservative). */
  private def normalizeForPruning(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression, Literal}
    import org.apache.spark.sql.types.NumericType
    e.transformUp {
      case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
        try Literal(c.eval(null), c.dataType)
        catch { case scala.util.control.NonFatal(_) => c }
      // Only LOSSLESS up-casts come off attributes (Spark's own
      // UnwrapCastInBinaryComparison draws the same line): a narrowing
      // cast like CAST(x AS INT) = 5 matches x ∈ [5, 6) — stripping it
      // would prune on [5, 5] and lose rows. Struct-field extractions
      // count as attributes here: their footer stats live under the
      // dotted leaf path.
      case c: Cast if (c.child.isInstanceOf[Attribute] ||
            c.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.GetStructField]) &&
          c.child.dataType.isInstanceOf[NumericType] &&
          c.dataType.isInstanceOf[NumericType] &&
          Cast.canUpCast(c.child.dataType, c.dataType) => c.child
    }
  }

  /** Could dir `d` contain a row satisfying `e`? Three-valued pruning
    * collapsed to Boolean: `false` only when the dir PROVABLY holds no
    * matching row; every unknown is `true`. Strict comparisons are widened
    * to closed intervals — required for correctness under the 6-byte
    * string prefix encoding (distinct strings can share an encoding) and
    * harmless for numerics (one boundary dir kept, not lost). */
  private def dirMayMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      c: Commit,
      d: String,
      schema: StructType,
      cb: Map[String, (Double, Double)]): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    def stats(n: String): Option[(Double, Double)] =
      c.dirStats.get(d).flatMap(_.get(n)).orElse(cb.get(n))
    // literal → the dir-stats encoding (numerics as doubles, timestamps
    // already epoch micros / dates epoch days in Catalyst internal form,
    // strings through the prefix map); None = can't reason, keep the dir.
    // The literal's representation must match what the stats recorded for
    // the DECLARED column type — Spark happily compares `ts < "2024-06-01"`
    // by casting, but a string-prefix encoding checked against micros
    // stats would prune wrongly, so a type mismatch contributes nothing.
    def enc(n: String, v: Any): Option[Double] = {
      import org.apache.spark.sql.types._
      val colType = GraftTable.leafType(schema, n)
      (colType, v) match {
        case (_, null) => None
        case (Some(StringType), s: org.apache.spark.unsafe.types.UTF8String) =>
          Some(GraftTable.stringPrefixValue(s.getBytes))
        case (Some(_: NumericType | DateType | TimestampType | TimestampNTZType),
            num: java.lang.Number) => Some(num.doubleValue())
        case (Some(_: NumericType), dec: Decimal) => Some(dec.toDouble)
        case _ => None
      }
    }
    def attrName(a: Expression): Option[String] = a match {
      case u: UnresolvedAttribute => Some(u.name) // pre-analysis callers
      case att: Attribute => Some(att.name)       // analyzed tree (where())
      // struct leaves: predicates on s.x skip by the DOTTED footer path
      // (parquet column chunks are per leaf, so the harvest already
      // recorded "s.x" stats — nested data prunes like flat data)
      case g: GetStructField =>
        attrName(g.child).map(p => s"$p.${g.extractFieldName}")
      case _ => None
    }
    // Null bookkeeping ([[Commit.dirNulls]]): per-dir col → null count,
    // "" → row count, -1 unknown; column ABSENT from a recorded dir's map
    // = not in the dir's files = all-null after schema alignment (atomic
    // non-partition columns only — partition values live in paths, nested
    // types in leaf paths).
    def knownNullCount(n: String): Option[Long] =
      c.dirNulls.get(d).flatMap(_.get(n)).filter(_ >= 0)
    // The "" row-count key gate matters: a dir that fell back to the scan
    // harvest records an EMPTY nulls map (no "" entry) — without the gate
    // the absence inference would claim every column of that dir all-null.
    def provablyAllNull(n: String): Boolean =
      c.dirNulls.get(d).filter(_.contains("")).exists { m =>
      m.get(n) match {
        case Some(cnt) => cnt >= 0 && m.get("").exists(r => r >= 0 && cnt == r)
        case None =>
          !c.partitionCols.contains(n) &&
            schema.find(_.name == n).exists(f => f.dataType match {
              case _: StructType => false
              case _: org.apache.spark.sql.types.ArrayType => false
              case _: org.apache.spark.sql.types.MapType => false
              case _ => true
            })
      }
    }
    // may a value of column `n` within the dir's [mn, mx] land in [qlo, qhi]?
    // An all-null column has NO values: every comparison on it is null and
    // the row never passes the filter, whatever the window.
    def overlaps(n: String, qlo: Double, qhi: Double): Boolean =
      !provablyAllNull(n) &&
        stats(n).forall { case (mn, mx) => mx >= qlo && mn <= qhi }
    // equality point: range stats AND the bloom sidecar (when indexed).
    // The literal is cast to the column's declared type before hashing —
    // the sidecar hashed the COLUMN's type, and xxhash64(8: Int) !=
    // xxhash64(8L), so an uncast Int needle against a Long key would
    // wrongly prune every dir.
    def point(n: String, lit: Literal): Boolean = {
      val rangeOk = enc(n, lit.value).forall { p => overlaps(n, p, p) }
      def bloomOk = loadBloom(n, d) match {
        case None => true
        case Some(bf) =>
          GraftTable.leafType(schema, n).forall { dt =>
            try {
              val casted = Cast(lit, dt,
                Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
              if (casted == null) true
              else bf.mightContainLong(
                new XxHash64(Seq(Literal.create(casted, dt)), 42L)
                  .eval(null).asInstanceOf[Long])
            } catch { case scala.util.control.NonFatal(_) => true }
          }
      }
      rangeOk && bloomOk
    }
    def may(x: Expression): Boolean = x match {
      case And(l, r) => may(l) && may(r)
      case Or(l, r) => may(l) || may(r)
      case EqualTo(a, lit: Literal) if attrName(a).isDefined => point(attrName(a).get, lit)
      case EqualTo(lit: Literal, a) if attrName(a).isDefined => point(attrName(a).get, lit)
      case EqualNullSafe(a, lit: Literal) if attrName(a).isDefined => point(attrName(a).get, lit)
      case EqualNullSafe(lit: Literal, a) if attrName(a).isDefined => point(attrName(a).get, lit)
      case In(a, vs) if attrName(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
        vs.isEmpty || vs.exists(v => point(attrName(a).get, v.asInstanceOf[Literal]))
      // the optimizer converts IN lists past the conversion threshold
      // (default 10) to InSet with INTERNAL values — a dir survives if any
      // needle might be present; capped so a million-key set never stalls
      // planning (beyond the cap: conservative full keep)
      case InSet(a, hset) if attrName(a).isDefined && a.resolved =>
        hset.size > 10000 || hset.isEmpty ||
          hset.exists(v => point(attrName(a).get, Literal(v, a.dataType)))
      case GreaterThan(a, Literal(v, _)) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, p, Double.PositiveInfinity))
      case GreaterThanOrEqual(a, Literal(v, _)) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, p, Double.PositiveInfinity))
      case LessThan(a, Literal(v, _)) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, Double.NegativeInfinity, p))
      case LessThanOrEqual(a, Literal(v, _)) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, Double.NegativeInfinity, p))
      // flipped literal-first forms: v OP a  ⇔  a flip(OP) v
      case GreaterThan(Literal(v, _), a) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, Double.NegativeInfinity, p))
      case GreaterThanOrEqual(Literal(v, _), a) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, Double.NegativeInfinity, p))
      case LessThan(Literal(v, _), a) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, p, Double.PositiveInfinity))
      case LessThanOrEqual(Literal(v, _), a) if attrName(a).isDefined =>
        val n = attrName(a).get
        enc(n, v).forall(p => overlaps(n, p, Double.PositiveInfinity))
      case StartsWith(a, Literal(s: org.apache.spark.unsafe.types.UTF8String, _))
          if attrName(a).exists(n => schema.find(_.name == n)
            .exists(_.dataType == org.apache.spark.sql.types.StringType)) =>
        val b = s.getBytes
        overlaps(attrName(a).get,
          GraftTable.stringPrefixValue(b), GraftTable.stringPrefixHiValue(b))
      // IS NULL prunes dirs the footers PROVE fully-populated; IS NOT NULL
      // prunes dirs provably all-null — including dirs written before the
      // column existed (schema evolution), the big-table win: the old
      // segments never get listed.
      case IsNull(a) if attrName(a).isDefined =>
        !knownNullCount(attrName(a).get).contains(0L)
      case IsNotNull(a) if attrName(a).isDefined =>
        !provablyAllNull(attrName(a).get)
      case _ => true // Not / UDF-ish / non-literal comparand: keep
    }
    may(e)
  }

  /** ALTER TABLE ADD CONSTRAINT … CHECK (Delta parity): the predicate is
    * validated against the CURRENT snapshot, then recorded in the table
    * properties — every subsequent append/overwrite/merge/update validates
    * what it writes and ABORTS (no commit, dirs rolled back by the normal
    * rewrite path) on violation. SQL semantics: a row violates only when
    * the predicate is FALSE; NULL passes, as in standard CHECK. */
  def addConstraint(name: String, predicateSql: String): Commit = this.synchronized {
    alterTable("ADD CONSTRAINT") { prev =>
      // re-validated per attempt: a rebase over a concurrent data commit
      // must check the NEW snapshot, not the one this call first saw
      violations(readCommit(prev), Map(name -> predicateSql), "existing snapshot")
      prev.copy(properties = prev.properties + (ConstraintPrefix + name -> predicateSql))
    }
  }

  /** ALTER TABLE ADD COLUMN — METADATA-ONLY (no file rewrite): the new
    * head's schema appends a nullable field; dirs written before it are
    * recognized as all-null by schema alignment AND by the null-count
    * absence inference, so reads, skipping and metadata-only COUNT all
    * treat history correctly from the first commit. (Same effect as
    * appending an evolved frame, as explicit DDL.) */
  def addColumn(name: String, dataType: DataType): Commit = this.synchronized {
    alterTable("ADD COLUMN") { prev =>
    val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
    require(!schema.fieldNames.contains(name), s"column $name already exists at $root")
    // A name a metadata-only DROP retired can never come back: reads
    // project files BY NAME, so re-adding would resurrect the old bytes
    // still sitting in pre-drop files (or crash the scan on a type
    // change). The same holds for a name a metadata-only RENAME left
    // behind as some live column's PHYSICAL name — a new column born
    // under it would collide with that column's bytes in every file.
    require(!claimedPhysNames(schema, prev.properties).contains(name),
      s"column name $name of $root is retired or in use as a physical " +
        "(on-disk) column name — old files still carry it; use a new name")
    prev.copy(schemaJson = schema.add(name, dataType, nullable = true).json)
    }
  }

  /** ALTER TABLE DROP COLUMN — METADATA-ONLY (no file rewrite): the new
    * head's schema simply omits the field. Every read projects by the
    * commit's schema, so the bytes stay in the files but no plan ever
    * reads them — and time travel still serves the column at older
    * versions. (Delta needs column mapping for this; here reads are
    * always schema-projected, so a dropped physical column never leaks.)
    * Refused for partition columns (their values live in the dir paths)
    * and for columns a CHECK constraint mentions (the constraint would
    * fail analysis on the next write — drop the constraint first). */
  def dropColumn(name: String): Commit = this.synchronized {
    alterTable("DROP COLUMN") { prev =>
    val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.contains(name), s"no column $name at $root")
    require(schema.fields.length > 1, s"cannot drop the last column of $root")
    require(!prev.partitionCols.contains(name),
      s"cannot drop partition column $name of $root (values live in the dir layout)")
    val mentioned = prev.properties.collect {
      case (k, p) if k.startsWith(ConstraintPrefix) &&
        s"\\b${java.util.regex.Pattern.quote(name)}\\b".r.findFirstIn(p).isDefined =>
        k.stripPrefix(ConstraintPrefix)
    }
    require(mentioned.isEmpty,
      s"cannot drop column $name of $root: CHECK constraint(s) ${mentioned.mkString(", ")} " +
        "reference it — drop the constraint(s) first")
    prev.copy(schemaJson = StructType(schema.fields.filterNot(_.name == name)).json,
      // The retired name is the PHYSICAL one (what old files still carry)
      // — that is the name whose resurrection would leak old bytes.
      properties = {
        val base = prev.properties -
          (GraftTable.ColMapPrefix + name) +
          (DroppedColPrefix +
            colMapOf(prev.properties).getOrElse(name, name) -> "1")
        // A dropped clustering column leaves the declaration (Delta drops
        // the column from clusteringColumns rather than refusing the DDL).
        val cluster = GraftTable.clusterColsOf(prev.properties)
        if (!cluster.contains(name)) base
        else {
          val rest = cluster.filterNot(_ == name)
          if (rest.isEmpty) base - GraftTable.ClusterByProp
          else base + (GraftTable.ClusterByProp -> rest.mkString(","))
        }
      })
    }
  }

  /** ALTER TABLE SET TBLPROPERTIES (metadata-only): user-namespace
    * properties only — the engine-managed prefixes (constraints,
    * generated/identity specs, dropped-column tombstones, txn stamps)
    * have dedicated operations and are refused here so a stray SET
    * cannot corrupt their invariants. */
  def setProperties(props: Map[String, String]): Commit = this.synchronized {
    val reserved = props.keys.filter(isEngineProperty)
    require(reserved.isEmpty,
      s"properties ${reserved.mkString(", ")} are engine-managed " +
        "(use addConstraint/addColumn/… instead of SET TBLPROPERTIES)")
    alterTable("SET TBLPROPERTIES") { prev =>
      prev.copy(properties = prev.properties ++ props)
    }
  }

  /** ALTER TABLE UNSET TBLPROPERTIES (metadata-only; absent keys are a
    * no-op, as Delta's IF EXISTS form). Engine-managed keys refused as
    * in [[setProperties]]. */
  def unsetProperties(keys: Seq[String]): Commit = this.synchronized {
    val reserved = keys.filter(isEngineProperty)
    require(reserved.isEmpty,
      s"properties ${reserved.mkString(", ")} are engine-managed " +
        "(use dropConstraint/… instead of UNSET TBLPROPERTIES)")
    alterTable("UNSET TBLPROPERTIES") { prev =>
      prev.copy(properties = prev.properties -- keys)
    }
  }

  private def isEngineProperty(k: String): Boolean =
    k.startsWith(ConstraintPrefix) || k.startsWith(TombstoneCoverPrefix) ||
      k.startsWith(DroppedColPrefix) || k.startsWith(GeneratedColPrefix) ||
      k.startsWith(IdentitySpecPrefix) || k.startsWith(IdentityHwmPrefix) ||
      k.startsWith(GraftTable.ColMapPrefix) || k == GraftTable.ClusterByProp ||
      k.startsWith(GraftTable.DefaultPrefix)

  // ------------------------------------------------------ column defaults

  /** Declared column defaults (logical name → original DEFAULT SQL) —
    * Delta's `allowColumnDefaults` surface: the default applies to future
    * INSERTs that omit the column, never to existing rows (they keep
    * reading NULL), exactly Delta's ALTER COLUMN SET DEFAULT contract. */
  def columnDefaults: Map[String, String] =
    log.latest().map(_.properties.collect {
      case (k, v) if k.startsWith(GraftTable.DefaultPrefix) =>
        k.stripPrefix(GraftTable.DefaultPrefix) -> v
    }).getOrElse(Map.empty)

  /** ALTER TABLE … ALTER COLUMN c SET DEFAULT <expr>. The expression must
    * be constant and castable to the column's type — validated NOW by
    * actually evaluating it (Delta fails bad defaults at DDL time too;
    * failing at first INSERT would be far from the mistake). Stored as
    * the ORIGINAL SQL (the Delta metadata contract: CURRENT_DEFAULT
    * carries the user's text, re-parsed by each writer), surfaced to
    * Spark's own INSERT resolution through the relation schema's
    * `CURRENT_DEFAULT` field metadata — the engine adds no custom insert
    * path; stock ResolveDefaultColumns does the filling. */
  def setColumnDefault(name: String, sqlText: String): Commit = this.synchronized {
    val prev = log.latest().getOrElse(throw new NoSuchElementException(s"no table at $root"))
    val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
    val f = schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no column $name at $root"))
    // Evaluate once: parses, folds, and casts — any failure is the DDL's.
    try spark.sql(s"SELECT CAST(($sqlText) AS ${f.dataType.sql})").head()
    catch { case e: Exception => throw new IllegalArgumentException(
      s"DEFAULT for $name: '$sqlText' is not a constant of ${f.dataType.sql}", e) }
    alterTable("SET DEFAULT") { p =>
      p.copy(properties = p.properties + (GraftTable.DefaultPrefix + name -> sqlText))
    }
  }

  /** ALTER TABLE … ALTER COLUMN c DROP DEFAULT (absent default: no-op). */
  def dropColumnDefault(name: String): Commit = this.synchronized {
    alterTable("DROP DEFAULT") { p =>
      p.copy(properties = p.properties - (GraftTable.DefaultPrefix + name))
    }
  }

  /** ALTER TABLE … CLUSTER BY — declare the table's clustering columns
    * (Delta liquid-clustering analogue; reference scope: delta_handler.py
    * delegates layout DDL to the Delta library). Metadata-only: existing
    * files keep their layout; every subsequent [[optimize]] without an
    * explicit `zorderBy` re-clusters on these columns, which is exactly
    * Delta's incremental-clustering contract (declare once, OPTIMIZE
    * applies). The Delta export bridge mirrors the declaration as
    * `delta.clustering` domain metadata + the `clustering` writer
    * feature, and stamps OPTIMIZE-written adds with a
    * `clusteringProvider`. `CLUSTER BY NONE` = empty `cols`. */
  def clusterBy(cols: Seq[String]): Commit = this.synchronized {
    alterTable("CLUSTER BY") { prev =>
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"cannot cluster $root by ${missing.mkString(", ")}: no such column")
      val onPart = cols.filter(prev.partitionCols.contains)
      require(onPart.isEmpty,
        s"cannot cluster $root by partition column(s) ${onPart.mkString(", ")}")
      prev.copy(properties =
        if (cols.isEmpty) prev.properties - GraftTable.ClusterByProp
        else prev.properties + (GraftTable.ClusterByProp -> cols.mkString(",")))
    }
  }

  /** The table's declared clustering columns (empty when unclustered). */
  def clusteringColumns: Seq[String] =
    log.latest().map(c => GraftTable.clusterColsOf(c.properties)).getOrElse(Nil)

  /** ALTER TABLE DROP CONSTRAINT (metadata-only). */
  def dropConstraint(name: String): Commit = this.synchronized {
    alterTable("DROP CONSTRAINT") { prev =>
      prev.copy(properties = prev.properties - (ConstraintPrefix + name))
    }
  }

  /** Throw if any registered constraint is FALSE for some row of `df`.
    * No-op (zero extra jobs) when the table has no constraints. */
  private def enforceConstraints(df: DataFrame, props: Map[String, String], op: String): Unit = {
    val cs = constraintsOf(props)
    if (cs.nonEmpty) violations(df, cs, op)
  }

  /** CHECK constraints (name → predicate) a property map registers. */
  private def constraintsOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) => k.stripPrefix(ConstraintPrefix) -> v
    }

  private def violations(df: DataFrame, cs: Map[String, String], what: String): Unit =
    cs.foreach { case (name, p) =>
      // violation = predicate strictly FALSE (NULL passes, per SQL CHECK)
      if (!df.filter(!coalesce(expr(p), lit(true))).isEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint $name ($p) violated by $what")
    }

  /** Per-dir skipping metadata harvested in ONE footer pass: column
    * min/max plus null bookkeeping ([[Commit.dirNulls]] encoding — col →
    * null count, "" → row count, -1 unknown). */
  private[table] case class DirMeta(
      stats: Map[String, (Double, Double)], nulls: Map[String, Long])

  /** Min/max stats of a just-written dir for every numeric/timestamp
    * column, harvested from the PARQUET FOOTERS the write already produced
    * — no extra Spark job. Falls back to a small agg scan if footer reading
    * surprises (exotic types, stats disabled). */
  private def statsFor(dir: String): Map[String, (Double, Double)] =
    metaFor(dir).stats

  private def metaFor(dir: String): DirMeta = {
    val m0 = try metaFromFooters(dir)
      catch { case scala.util.control.NonFatal(_) =>
        DirMeta(statsFromScan(dir), Map.empty) }
    // The hidden materialized row-id column is not part of the logical
    // schema — keep it out of the skipping metadata (its footer row count
    // under "" is unaffected).
    val m = DirMeta(m0.stats - RowIdCol, m0.nulls - RowIdCol)
    // Footers speak physical names; skipping metadata is keyed logical.
    val rev = colMapAtHead.collect { case (lg, ph) if lg != ph => ph -> lg }
    val logical =
      if (rev.isEmpty) m
      else DirMeta(
        m.stats.map { case (k, v) => rev.getOrElse(k, k) -> v },
        m.nulls.map { case (k, v) => rev.getOrElse(k, k) -> v })
    // Delta's stats-column budget, honored at write time: on a 1000-col
    // table, per-dir (min,max,nulls) triples for every column dominate
    // commit size and mirror stats JSON — the whole reason Delta defaults
    // dataSkippingNumIndexedCols to 32. Absent stats are conservatively
    // "don't prune", so trimming is always CORRECT, only less selective.
    GraftTable.allowedStatsCols(
        log.latest().map(_.properties).getOrElse(Map.empty),
        log.latest().map(c => DataType.fromJson(c.schemaJson)
          .asInstanceOf[StructType].fieldNames.toSeq).getOrElse(Nil)) match {
      case None => logical
      case Some(allowed) => DirMeta(
        logical.stats.filter { case (k, _) => allowed(k) },
        logical.nulls.filter { case (k, _) => allowed(k) })
    }
  }

  private def metaFromFooters(dir: String): DirMeta = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val dirPath = new Path(root, dir)
    val files = fs.listFiles(dirPath, true)
    val acc = scala.collection.mutable.HashMap.empty[String, (Double, Double)]
    val nulls = scala.collection.mutable.HashMap.empty[String, Long]
    var rowsTotal = 0L
    var sawFile = false
    while (files.hasNext) {
      val st = files.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        sawFile = true
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(st.getPath, hadoopConf(spark)))
        try {
          reader.getFooter.getBlocks.asScala.foreach { block =>
            rowsTotal += block.getRowCount
            block.getColumns.asScala.foreach { cc =>
              val name = cc.getPath.toDotString
              val s = cc.getStatistics
              // Null accounting is independent of min/max: a chunk can be
              // all-null (no min/max) and still report its null count. Any
              // chunk that doesn't say poisons the column to -1 (unknown) —
              // but the column stays RECORDED, because map presence is the
              // signal that it exists in this dir's files at all.
              val chunkNulls =
                if (s != null && s.isNumNullsSet) s.getNumNulls else -1L
              nulls(name) = nulls.get(name) match {
                case None => chunkNulls
                case Some(prev) =>
                  if (prev >= 0 && chunkNulls >= 0) prev + chunkNulls else -1L
              }
              if (s != null && s.hasNonNullValue) {
                import org.apache.parquet.schema.LogicalTypeAnnotation
                val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
                // Physical int stats carry a LOGICAL meaning the query
                // literal will use: DECIMAL stores the unscaled value
                // (123.45 as 12345 at scale 2) and TIMESTAMP's unit may
                // not be the micros the pruning contract promises. Scale
                // here — then widen by one ULP per side, because the
                // query side (Decimal.toDouble) rounds independently and
                // a boundary row must never be pruned by FP disagreement.
                val factor: Double = ann match {
                  case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                    math.pow(10, -d.getScale)
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit match {
                      case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000.0
                      case LogicalTypeAnnotation.TimeUnit.NANOS => 0.001
                      case _ => 1.0 // MICROS: the contract's unit
                    }
                  case _ => 1.0
                }
                def adj(lo: Double, hi: Double): (Double, Double) =
                  if (factor == 1.0) (lo, hi)
                  else (math.nextDown(lo * factor), math.nextUp(hi * factor))
                val isString = ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
                val mm: Option[(Double, Double)] = (s.genericGetMin, s.genericGetMax) match {
                  case (lo: java.lang.Long, hi: java.lang.Long) =>
                    Some(adj(lo.toDouble, hi.toDouble))
                  case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                    Some(adj(lo.toDouble, hi.toDouble))
                  case (lo: java.lang.Double, hi: java.lang.Double) =>
                    Some((lo.toDouble, hi.toDouble))
                  case (lo: java.lang.Float, hi: java.lang.Float) =>
                    Some((lo.toDouble, hi.toDouble))
                  case (lo: org.apache.parquet.io.api.Binary, hi: org.apache.parquet.io.api.Binary)
                      if isString =>
                    // Strings ride the same Double stats map as an
                    // ORDER-PRESERVING 6-byte prefix value (exact in a
                    // 53-bit mantissa): s <= t byte-lexicographically ⇒
                    // prefix(s) <= prefix(t), so range skipping on the
                    // encoded bounds is conservative-correct. Parquet's
                    // own truncated binary bounds stay valid bounds under
                    // the monotone prefix map. The isString gate matters:
                    // a binary-backed DECIMAL(>18) or INT96 here is NOT
                    // in lexicographic row order — those stay untracked.
                    Some((GraftTable.stringPrefixValue(lo.getBytes),
                      GraftTable.stringPrefixValue(hi.getBytes)))
                  case _ => None // other binary/etc: not tracked
                }
                mm.foreach { case (lo, hi) =>
                  val cur = acc.get(name)
                  acc(name) = (math.min(lo, cur.map(_._1).getOrElse(lo)),
                    math.max(hi, cur.map(_._2).getOrElse(hi)))
                }
              }
            }
          }
        } finally reader.close()
      }
    }
    if (!sawFile) DirMeta(Map.empty, Map.empty)
    else DirMeta(acc.toMap, nulls.toMap + ("" -> rowsTotal))
  }

  private def statsFromScan(dir: String): Map[String, (Double, Double)] = {
    import org.apache.spark.sql.types.{NumericType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(new Path(root, dir).toString)
    val targets: Seq[(String, Column)] = df.schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case _: NumericType => Some(f.name -> col(f.name).cast("double"))
        case TimestampType | TimestampNTZType =>
          Some(f.name -> unix_micros(col(f.name).cast("timestamp")).cast("double"))
        case _ => None
      }
    }
    if (targets.isEmpty) return Map.empty
    val aggs = targets.flatMap { case (n, c) => Seq(min(c), max(c)) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    targets.zipWithIndex.flatMap { case ((n, _), i) =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) None
      else Some(n -> (row.getDouble(2 * i), row.getDouble(2 * i + 1)))
    }.toMap
  }

  private def writeData(tx: TableTxn, df: DataFrame, v: Long,
      partCols: Seq[String] = partitionColsOfHead,
      rebalance: Boolean = true): String = {
    val dir = tx.stage(dataDirName(v))
    // On-disk bytes carry PHYSICAL names (partition columns are never
    // renamed, so partitionBy below always sees its column).
    val phys = toPhysicalDf(df, colMapAtHead)
    val out = if (rebalance) optimizeWriteOf(phys, partCols) else phys
    val w = out.write.mode("errorifexists")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(new Path(root, dir).toString)
    dir
  }

  /** OPTIMIZE WRITE (Delta's `autoOptimize.optimizeWrite` analogue):
    * when `spark.graft.optimizeWrite.targetBytes` is set (> 0), rebalance
    * the frame BEFORE writing so each commit lands near-target-size files
    * instead of one file per upstream task — the small-files problem
    * killed at the source rather than mopped up by OPTIMIZE later (a
    * 32-task streaming micro-batch of a few MB otherwise writes 32 tiny
    * files EVERY trigger). File count comes from the optimizer's size
    * estimate over the target (in-memory estimate ≥ parquet bytes, so the
    * error side is a few more, smaller files — never giant ones), clamped
    * to never INCREASE the partition count: when the data already has
    * fewer, larger tasks than the target implies, the write stays as-is
    * and no shuffle is added. Partitioned writes hash on the partition
    * columns so each task owns whole hive partitions (one file per
    * partition dir per task). Off unless the conf is set, and the
    * OPTIMIZE/Z-order writers bypass it (`rebalance = false`): a frame
    * they clustered must land exactly as clustered. */
  private def optimizeWriteOf(df: DataFrame, partCols: Seq[String]): DataFrame = {
    val target = spark.conf.getOption("spark.graft.optimizeWrite.targetBytes")
      .map(_.toLong).getOrElse(0L)
    if (target <= 0L) return df
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val current = df.rdd.getNumPartitions
    val n = ((est / target) max BigInt(1) min BigInt(current)).toInt
    if (n >= current) df
    else if (partCols.nonEmpty) df.repartition(n, partCols.map(col): _*)
    else df.repartition(n)
  }

  /** Write commit `v`'s CDF rows under `dir`; returns the per-change-type
    * counts. */
  private[table] def writeChanges(df: DataFrame, dir: String, v: Long,
      tsMs: Long): Map[String, Long] = {
    // Table columns land under their physical names (same boundary rule as
    // writeData); the CDF artifact columns (_change_type + stamps) are
    // never mapped.
    toPhysicalDf(df, colMapAtHead).withColumn("_commit_version", lit(v))
      .withColumn("_commit_timestamp", timestamp_millis(lit(tsMs)))
      .write.mode("errorifexists").parquet(new Path(root, dir).toString)
    // Metrics come from the written CDF (footer counts + one tiny agg) so the
    // expensive join/rewrite plans execute exactly once each.
    spark.read.parquet(new Path(root, dir).toString)
      .groupBy("_change_type").count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
  }

  /** Resolve a commit's CDF dir: recorded name, or the legacy
    * version-derived name for logs written before dir names were recorded. */
  private def changesDirOf(c: Commit): String =
    c.changesDir.getOrElse(f"_changes/v${c.version}%05d")

  /** Append (M4): the audit-log write path (spark_streaming.py:292-303).
    * Adds one data dir; previous dirs are referenced, never rewritten.
    * Additive schema evolution (M6, `mergeSchema`): new columns extend the
    * snapshot schema; old dirs read back with nulls for them. */
  def append(df: DataFrame): Commit = {
    val c = appendInternal(df, None).get
    autoCompact()
    c
  }

  /** COPY INTO (Delta's idempotent bulk file load): append every file
    * under `srcDir` matching `pattern` that has NOT been loaded before.
    * The loaded-file ledger is the union of [[Commit.copiedFiles]] over
    * the log — recorded atomically WITH the appended data, so a crash or
    * replayed job can never load a file twice or lose one (re-running the
    * same statement is a no-op, the Databricks COPY INTO contract).
    * Returns None when nothing new matched.
    *
    * Scale shape: one driver-side glob listing of the source (the same
    * cost any engine pays), a set-difference against log metadata, then a
    * fully distributed read+append of only the fresh files. Hidden
    * files (`_`/`.` prefixed) are skipped, as Spark's own readers do.
    * `pattern` is a Hadoop glob relative to `srcDir` (e.g. `*.parquet`,
    * or a partition-dir glob like `date=&#42;/part-*.parquet`). */
  def copyInto(srcDir: String, pattern: String = "*",
      format: String = "parquet"): Option[Commit] = this.synchronized {
    require(log.latest().nonEmpty,
      s"COPY INTO requires an existing table at $root — create it first " +
        "(or CONVERT TO GRAFT the directory)")
    val src = new Path(srcDir)
    val sfs = src.getFileSystem(hadoopConf(spark))
    def hidden(n: String): Boolean = n.startsWith("_") || n.startsWith(".")
    // A matched DIRECTORY expands to the data files under it (recursive),
    // as Delta's COPY INTO does for `FROM '/dir'`; hidden files and files
    // under hidden dirs (checkpoints, logs) never load.
    def expand(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
      if (st.isFile) Seq(st.getPath.toUri.toString)
      else {
        val it = sfs.listFiles(st.getPath, true)
        val base = st.getPath.toUri.toString.stripSuffix("/")
        val out = Seq.newBuilder[String]
        while (it.hasNext) {
          val f = it.next()
          val uri = f.getPath.toUri.toString
          val rel = uri.stripPrefix(base).stripPrefix("/")
          if (!rel.split('/').exists(hidden)) out += uri
        }
        out.result()
      }
    // Ledger identity is the CANONICAL URI: the same file arrives as
    // `file:/x` from a wildcard glob but `file:///x` from a literal one
    // (Hadoop preserves the empty authority) — a string-keyed ledger would
    // reload it under the other spelling.
    val listed = Option(sfs.globStatus(new Path(src, pattern)))
      .map(_.toSeq).getOrElse(Nil)
      .filterNot(st => hidden(st.getPath.getName))
      .flatMap(expand)
      .map(GraftTable.canonFileUri)
    // Cross-PROCESS race: another job may commit the same COPY INTO between
    // our ledger read and our commit (the JVM lock only serializes this
    // process). A rival that claimed some of OUR files restarts the load
    // from the new head with only what is still unclaimed; one that
    // claimed them all already committed it — converging on the
    // never-load-twice contract under any interleaving.
    def unclaimed(): Seq[String] = {
      val loaded = log.commits().flatMap(_.copiedFiles)
        .map(GraftTable.canonFileUri).toSet
      listed.filterNot(loaded).sorted
    }
    var fresh = unclaimed()
    if (fresh.isEmpty) return None
    val tx = new TableTxn(this, s"COPY INTO $root")
    val c = tx.commit() { snap =>
      val df = format.toLowerCase match {
        case "parquet" => spark.read.parquet(fresh: _*)
        case "json" => spark.read.json(fresh: _*)
        case "csv" => spark.read.option("header", "true").option("inferSchema", "true")
          .csv(fresh: _*)
        case other => throw new IllegalArgumentException(
          s"COPY INTO FILEFORMAT = $other not supported (PARQUET, JSON, CSV)")
      }
      val staged = appendStaged(tx, snap, df, None, fresh)
      staged.copy(conflict = { head =>
        val left = unclaimed()
        if (left.isEmpty) Committed
        else if (left.size < fresh.size) { fresh = left; Restart }
        else staged.conflict(head)
      })
    }
    if (c.isDefined) autoCompact()
    c
  }

  /** Exactly-once streaming append (Delta's `txn` action): the commit is
    * stamped with (txnAppId, txnBatchId); if this writer already committed
    * this or a later batch — a crash-replay under the at-least-once
    * checkpoint contract — the append is skipped and None returned. */
  def appendOnce(df: DataFrame, txnAppId: String, txnBatchId: Long): Option[Commit] = {
    val c = this.synchronized {
      if (lastCommittedBatch(txnAppId).exists(_ >= txnBatchId)) None
      else appendInternal(df, Some((txnAppId, txnBatchId)))
    }
    if (c.isDefined) autoCompact()
    c
  }

  /** Post-append auto-compaction (Delta's `autoCompact` analogue): when
    * `spark.graft.autoCompact.maxDirs` is set, an append that leaves more
    * than that many data dirs triggers [[compactSmall]] in the same
    * writer — a streaming sink stops accreting one dir per micro-batch
    * without a separate maintenance job, and ONLY the small tail is
    * folded: mature target-size dirs are never rewritten by the hook.
    * Best-effort: losing a race to another writer never fails the append
    * that triggered it. */
  private def autoCompact(): Unit =
    spark.conf.getOption("spark.graft.autoCompact.maxDirs").map(_.toInt).foreach { n =>
      try { compactSmall(maxDataDirs = n); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** BIN-PACKING compaction — Delta OPTIMIZE's actual production
    * contract, vs [[optimize]]'s rewrite-the-world: fold ONLY the dirs
    * whose bytes fall below `smallDirBytes` into target-size files,
    * carrying every mature dir untouched with its stats. At 100 TB the
    * small tail a streaming sink accretes is megabytes; rewriting it
    * costs seconds while blanket OPTIMIZE would rewrite the table.
    * No-ops (None) when fewer than two dirs qualify, when the dir count
    * is within `maxDataDirs`, or when merge-on-read state exists (a
    * partial rewrite can't split tombstone coverage — run
    * [[materializeDeletes]] first). Commits rebase over concurrent
    * appends like every OPTIMIZE. */
  def compactSmall(targetFileBytes: Long = 128L * 1024 * 1024,
      smallDirBytes: Long = -1L,
      maxDataDirs: Int = 0): Option[Commit] = this.synchronized {
    val prev = log.latest().getOrElse(return None)
    if (prev.tombstoneDirs.nonEmpty || prev.dvDirs.nonEmpty) return None
    if (prev.dataDirs.size <= maxDataDirs) return None
    val threshold = if (smallDirBytes > 0) smallDirBytes else targetFileBytes
    val sized = prev.dataDirs.map { d =>
      d -> fs.getContentSummary(new Path(root, d)).getLength
    }
    val small = sized.filter(_._2 < threshold)
    if (small.size < 2) return None
    // The shared subset-compaction body: row-tracked tables MATERIALIZE
    // their ids through the rewrite (a fresh dir would otherwise derive
    // new bases — silent id churn), and clustered tables
    // ([[clusterBy]]) Z-order the folded dir on their declaration, so
    // auto-compaction never un-clusters data.
    Some(compactDirSubset(prev, small.map(_._1), targetFileBytes,
      GraftTable.clusterColsOf(prev.properties)))
  }

  /** Highest batch id committed by the given writer, if any. */
  def lastCommittedBatch(txnAppId: String): Option[Long] =
    log.commits().filter(_.txnAppId.contains(txnAppId)).flatMap(_.txnBatchId).maxOption

  /** Test seam: runs before every publish attempt of every verb, after its
    * staging, so specs can deterministically interleave a concurrent
    * commit and exercise the rebase, refusal and reaping paths. No-op in
    * production. */
  private[table] var beforeCommitHook: () => Unit = () => ()

  /** Schema ENFORCEMENT (Delta's write contract): a frame column whose
    * type cannot up-cast LOSSLESSLY to the table's declared type is
    * rejected instead of silently coerced — `alignTo`'s cast would
    * otherwise turn a long→int overflow or a malformed string→timestamp
    * into nulls/garbage that no one asked for, at 100 TB silently and
    * permanently. Additive new columns are untouched (evolution is
    * `mergeSchemas`' job); `spark.graft.schema.allowLossyCasts=true`
    * opts back into the old coercion for deliberate migrations. */
  private def enforceCompatibleTypes(
      incoming: StructType, table: StructType, op: String): Unit = {
    if (spark.conf.getOption("spark.graft.schema.allowLossyCasts").contains("true")) return
    val declared = table.fields.map(f => f.name -> f.dataType).toMap
    val bad = incoming.fields.filter { f =>
      declared.get(f.name).exists(t => t != f.dataType &&
        !org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f.dataType, t))
    }
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"schema enforcement on $op to $root: column(s) " +
          bad.map(f => s"${f.name} (${f.dataType.simpleString} -> " +
            s"${declared(f.name).simpleString})").mkString(", ") +
          " cannot cast losslessly to the table type — fix the writer, or set " +
          "spark.graft.schema.allowLossyCasts=true to coerce anyway")
  }

  // ------------------------------------------- generated & identity columns

  /** Declared generation expressions (col → SQL expr) of a property map. */
  private def generatedSpecs(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(GeneratedColPrefix) =>
      k.stripPrefix(GeneratedColPrefix) -> v
    }

  /** Declared identity columns (col → (start, step)). */
  private def identitySpecs(props: Map[String, String]): Map[String, (Long, Long)] =
    props.collect { case (k, v) if k.startsWith(IdentitySpecPrefix) =>
      val Array(s, st) = v.split(',')
      k.stripPrefix(IdentitySpecPrefix) -> (s.toLong, st.toLong)
    }

  /** Last value each identity column has allocated (the high watermark);
    * `start - step` before the first allocation so the first id is
    * exactly `start`. */
  private def identityHwms(props: Map[String, String],
      specs: Map[String, (Long, Long)]): Map[String, Long] =
    specs.map { case (n, (start, step)) =>
      n -> props.get(IdentityHwmPrefix + n).map(_.toLong).getOrElse(start - step)
    }

  /** GENERATED ALWAYS AS (expr) on the write path (Delta parity): a frame
    * that OMITS the column gets it computed — zero extra jobs; a frame that
    * PROVIDES it is validated (null-safe) against the expression and
    * rejected on mismatch, so the declared invariant `col = expr(row)`
    * holds for every committed row and data skipping on the materialized
    * column is always consistent with the base columns. */
  private def applyGenerated(df: DataFrame, props: Map[String, String],
      op: String): DataFrame =
    generatedSpecs(props).foldLeft(df) { case (d, (name, sql)) =>
      if (!d.columns.contains(name)) d.withColumn(name, expr(sql))
      else {
        if (!d.filter(!(col(name) <=> expr(sql))).isEmpty)
          throw new IllegalArgumentException(
            s"generated column $name of $root: provided values disagree with " +
              s"GENERATED ALWAYS AS ($sql) on $op — omit the column to have it computed")
        d
      }
    }

  /** GENERATED BY DEFAULT AS IDENTITY on the write path: rows that omit
    * the column (or carry NULL) are assigned `hwm + step·(1 + task-unique
    * counter)` via [[monotonically_increasing_id]] — each task owns a
    * disjoint id block, so assignment is one pure column expression, no
    * shuffle, no driver round-trip, exactly the per-task range-reservation
    * scheme Delta uses. Ids are UNIQUE and ascend across commits; like
    * Delta's, they are NOT gap-free (unclaimed block remainders are
    * skipped). Caller-provided non-null values are kept verbatim (BY
    * DEFAULT semantics — uniqueness against engine-assigned ids is then
    * the caller's contract, as in Delta). */
  private def fillIdentity(df: DataFrame, specs: Map[String, (Long, Long)],
      hwm: Map[String, Long]): DataFrame =
    specs.foldLeft(df) { case (d, (name, (_, step))) =>
      val assign = lit(hwm(name)) + lit(step) * (monotonically_increasing_id() + lit(1L))
      if (!d.columns.contains(name)) d.withColumn(name, assign)
      else d.withColumn(name,
        when(col(name).isNotNull, col(name).cast("long")).otherwise(assign))
    }

  /** High-watermark property updates for a just-written dir, read from the
    * footer stats the write already harvested (no extra job). The stats map
    * is Double-valued, exact for |id| < 2^52 — ids beyond that (never
    * reachable from sane start/step: 32 partitions × 2^33 block stride per
    * append) fall back to one max() scan for correctness. */
  private def identityHwmUpdates(dirName: String, meta: DirMeta,
      specs: Map[String, (Long, Long)], hwm: Map[String, Long]): Map[String, String] =
    specs.keys.flatMap { n =>
      val exactLimit = 1L << 52
      val written: Option[Long] = meta.stats.get(n).map(_._2) match {
        case Some(mx) if math.abs(mx) < exactLimit => Some(mx.toLong)
        case Some(_) =>
          Some(spark.read.parquet(new Path(root, dirName).toString)
            .agg(max(col(n))).head().getLong(0))
        case None => None // empty write (or no such column): hwm unchanged
      }
      written.map(w => IdentityHwmPrefix + n -> math.max(w, hwm(n)).toString)
    }.toMap

  /** Shared write-path preparation for every row-adding operation:
    * generated columns computed/validated, identity columns filled.
    * Returns the prepared frame plus the identity specs and the hwm base
    * used (the commit must persist [[identityHwmUpdates]] against them). */
  private def prepareWrite(df: DataFrame, props: Map[String, String], op: String)
      : (DataFrame, Map[String, (Long, Long)], Map[String, Long]) = {
    val specs = identitySpecs(props)
    val hwm = identityHwms(props, specs)
    (fillIdentity(applyGenerated(df, props, op), specs, hwm), specs, hwm)
  }

  private def appendInternal(df: DataFrame, txn: Option[(String, Long)]): Option[Commit] =
    this.synchronized {
      val tx = new TableTxn(this, s"append to $root")
      tx.commit(ifAbsent = TableTxn.Unborn)(appendStaged(tx, _, df, txn, Nil))
    }

  /** An append's staging over `snap` (the unborn table for a CREATE): it
    * writes one new data dir and references every earlier one, so it
    * commutes with any concurrent commit — when a rival wins the version,
    * the commit is rebuilt over the new head (schema re-merged, lineage
    * carried) and both writers' rows land. A txn-stamped batch the rival
    * already committed counts as committed (None). IDENTITY caveat: id
    * allocation does NOT commute — when the head's high watermark moved (a
    * concurrent append allocated ids) the append restarts, re-assigning
    * ids above the new watermark, so engine-assigned ids stay unique under
    * contention. */
  private def appendStaged(tx: TableTxn, snap: Commit, df: DataFrame,
      txn: Option[(String, Long)], copiedFiles: Seq[String]): Staged = {
    def mergeSchemas(p: Commit, s: StructType): StructType = {
      val ps = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
      StructType(ps.fields ++ s.fields.filterNot(f => ps.fieldNames.contains(f.name)))
    }
    // generated cols computed/validated; identity ids assigned above hwm.
    val idSpecs = identitySpecs(snap.properties)
    val idHwm = identityHwms(snap.properties, idSpecs)
    val prepared = fillIdentity(applyGenerated(df, snap.properties, "append"), idSpecs, idHwm)
    val mergedSchema = mergeSchemas(snap, prepared.schema)
    enforceCompatibleTypes(prepared.schema, mergedSchema, "append")
    // Schema evolution must not give birth to a column under a name that
    // old files already carry (a DROP-retired name, or a live column's
    // physical name after a metadata-only RENAME) — the bytes would
    // resurrect.
    val ps = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val banned = mergedSchema.fieldNames
      .filterNot(ps.fieldNames.contains)
      .filter(claimedPhysNames(ps, snap.properties).contains)
    require(banned.isEmpty,
      s"append to $root: evolved column(s) ${banned.mkString(", ")} " +
        "collide with retired or physical column names old files " +
        "still carry — use different names")
    val aligned = alignTo(prepared, mergedSchema)
    var validated = constraintsOf(snap.properties)
    enforceConstraints(aligned, snap.properties, "APPEND")
    val dir = writeData(tx, aligned, snap.version + 1, snap.partitionCols)
    val added = countDir(dir)
    val meta = metaFor(dir)
    Staged(
      conflict = { head =>
        if (txn.exists { case (app, b) => lastCommittedBatch(app).exists(_ >= b) }) Committed
        else if (identityHwms(head.properties, idSpecs) != idHwm) Restart
        else {
          // A concurrent ADD CONSTRAINT is a metadata conflict appends do
          // NOT commute with: the head may advertise checks the staged
          // rows never ran, so re-validate whenever the constraint set
          // changed (Delta aborts here; re-checking keeps the rebase while
          // preserving the head's invariants).
          val cs = constraintsOf(head.properties)
          if (cs != validated) {
            enforceConstraints(aligned, head.properties, "APPEND")
            validated = cs
          }
          Rebase
        }
      },
      build = a => Commit(a.version, a.tsMs,
        if (copiedFiles.nonEmpty) "COPY INTO"
        else if (a.head.version < 0) "CREATE" else "APPEND",
        a.head.dataDirs :+ dir,
        Map("numOutputRows" -> added), mergeSchemas(a.head, prepared.schema).json,
        txn.map(_._1), txn.map(_._2), a.head.partitionCols,
        // Appends accumulate dirs, so each one records skipping stats and
        // carries the earlier dirs' stats forward in the head commit.
        a.head.dirStats + (dir -> meta.stats),
        properties = a.head.properties ++
          identityHwmUpdates(dir, meta, idSpecs, idHwm),
        tombstoneDirs = a.head.tombstoneDirs,
        dvDirs = a.head.dvDirs,
        copiedFiles = copiedFiles,
        dirNulls = a.head.dirNulls + (dir -> meta.nulls)))
  }

  /** A METADATA-ONLY commit (constraint / column / property DDL): `edit`
    * applies the change to the head restamped as commit `op` (version and
    * time; metrics, CDF and txn stamp cleared), re-running its own
    * precondition checks. A rival win re-derives it over the new head:
    * metadata edits commute with data commits, and what does not (a
    * constraint racing an append that violates it) the re-derivation
    * re-checks. */
  private def alterTable(op: String)(edit: Commit => Commit): Commit =
    new TableTxn(this, s"metadata commit at $root").commit() { _ =>
      Staged(_ => Rebase, a => edit(a.head.copy(version = a.version,
        tsMs = a.tsMs, operation = op, metrics = Map.empty,
        changesDir = None, txnAppId = None, txnBatchId = None)))
    }.get

  /** The conflict rule of a snapshot REWRITE (merge/delete/update/
    * overwrite/…) staged over `prev`: it computed from that snapshot, so
    * any intervening commit refuses and the caller retries the whole
    * operation against the new head. (Appends rebase instead.) */
  private def staleRewrite(prev: Commit, op: String): Commit => Conflict = _ =>
    Refuse(s"version ${prev.version + 1} of $root was committed by another writer while this " +
      s"$op was computing from the previous snapshot; rolled back — " +
      "retry the operation against the new head")

  /** Stages a REWRITE of `prev` as commit `op`: `rows` land as one data dir
    * replacing every dir, `changes` (if any) as its CDF, and any
    * intervening commit refuses ([[staleRewrite]]). The commit carries
    * `metrics` plus the dir's `numOutputRows`, `prev`'s schema, partitioning
    * and rewrite properties; `finish` adjusts it given the dir and its
    * skipping metadata. */
  private def rewriteStaged(tx: TableTxn, prev: Commit, op: String,
      rows: DataFrame, changes: Option[DataFrame] = None,
      metrics: Attempt => Map[String, Long] = _ => Map.empty,
      rebalance: Boolean = true)(
      finish: (Commit, String, DirMeta) => Commit = (c, _, _) => c): Staged = {
    val dir = writeData(tx, rows, prev.version + 1, prev.partitionCols, rebalance)
    val meta = metaFor(dir)
    val outputRows = countDir(dir)
    Staged(staleRewrite(prev, op), a => finish(Commit(a.version, a.tsMs, op,
      Seq(dir), metrics(a) + ("numOutputRows" -> outputRows), prev.schemaJson,
      partitionCols = prev.partitionCols, changesDir = a.changesDir,
      dirStats = Map(dir -> meta.stats),
      properties = rewriteProps(prev.properties),
      dirNulls = Map(dir -> meta.nulls)), dir, meta), changes)
  }

  /** `c` with `dirs` of `from` carried ahead of its own dir, skipping
    * metadata included — a rewrite of a dir SUBSET. */
  private def carrying(c: Commit, from: Commit, dirs: Seq[String]): Commit =
    c.copy(dataDirs = dirs ++ c.dataDirs,
      dirStats = from.dirStats.view.filterKeys(dirs.contains).toMap ++ c.dirStats,
      dirNulls = from.dirNulls.view.filterKeys(dirs.contains).toMap ++ c.dirNulls)

  /** Overwrite (M5): table (re)creation path (spark_streaming.py:362-365). */
  def overwrite(df: DataFrame): Commit = overwrite(df, partitionColsOfHead)

  /** Overwrite with explicit hive-style partitioning (table creation path);
    * later commits inherit the partition columns. */
  def overwrite(df: DataFrame, partitionBy: Seq[String]): Commit =
    overwriteInternal(df, partitionBy, None)

  /** Exactly-once streaming overwrite — the MV-publish analogue of
    * [[appendOnce]]: the commit carries (txnAppId, txnBatchId), and a
    * replayed micro-batch (foreachBatch is at-least-once: a crash between
    * the table commit and the streaming checkpoint commit re-delivers the
    * batch) is detected by its stamp and skipped instead of double-applying
    * state deltas. Returns None when skipped. */
  def overwriteOnce(df: DataFrame, txnAppId: String, txnBatchId: Long): Option[Commit] =
    this.synchronized {
      if (lastCommittedBatch(txnAppId).exists(_ >= txnBatchId)) None
      else Some(overwriteInternal(df, partitionColsOfHead, Some((txnAppId, txnBatchId))))
    }

  private def overwriteInternal(df: DataFrame, partitionBy: Seq[String],
      txn: Option[(String, Long)],
      extraProps: Map[String, String] = Map.empty): Commit = this.synchronized {
    // creation (over the unborn table) is free of the append-only gate
    val tx = new TableTxn(this, s"overwrite of $root", Some("OVERWRITE"))
    tx.commit(ifAbsent = TableTxn.Unborn) { prev =>
      val op = if (prev.version < 0) "CREATE" else "WRITE"
      // extraProps is the CREATE-time declaration channel (generated/identity
      // column specs): folded in before preparation so the very first write
      // already computes/assigns them.
      val props0 = prev.properties ++ extraProps
      val (prepared, idSpecs, idHwm) = prepareWrite(df, props0, "overwrite")
      enforceConstraints(prepared, prev.properties, "WRITE")
      val dir = writeData(tx, prepared, prev.version + 1, partitionBy)
      val meta = metaFor(dir)
      val outputRows = countDir(dir)
      Staged(staleRewrite(prev, op), a => Commit(a.version, a.tsMs, op, Seq(dir),
        Map("numOutputRows" -> outputRows), prepared.schema.json,
        txn.map(_._1), txn.map(_._2),
        partitionCols = partitionBy,
        // Every commit that writes a dir records its skipping stats — a
        // CREATE-then-append table would otherwise carry one forever-unprunable dir.
        dirStats = Map(dir -> meta.stats),
        properties = rewriteProps(props0) ++ identityHwmUpdates(dir, meta, idSpecs, idHwm),
        dirNulls = Map(dir -> meta.nulls)))
    }.get
  }

  /** [[GraftTable.convert]]'s body: move the root's loose parquet files
    * into the deterministic v0 data dir and publish commit 0. Commits as
    * operation CREATE (with a `numConvertedFiles` marker) so every
    * downstream contract that special-cases table birth — version-aware
    * streaming included — sees a normal table. */
  private[table] def convertInPlace(): Commit = this.synchronized {
    val rootPath = new Path(root)
    require(fs.exists(rootPath), s"no directory at $root to convert")
    val convertDir = "data/v00000-convert"
    val entries = fs.listStatus(rootPath).toSeq
    val loose = entries.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    // hive-partitioned sources keep values in their paths — refuse rather
    // than orphan them under a flat rename
    entries.filter(_.isDirectory).filterNot(_.getPath.getName == "data").foreach { d =>
      val it = fs.listFiles(d.getPath, true)
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet"))
          throw new IllegalArgumentException(
            s"convert of $root: parquet under subdirectory ${d.getPath.getName}/ — " +
              "partitioned layouts cannot be converted in place (values live in the " +
              "paths); read the source and GraftTable.create instead")
      }
    }
    val destDir = new Path(rootPath, convertDir)
    val already = // crash-rerun: files an earlier attempt moved already
      if (!fs.exists(destDir)) 0
      else fs.listStatus(destDir).count(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    require(loose.nonEmpty || already > 0,
      s"no parquet files directly under $root to convert")
    // schema from the footers BEFORE any move (no row-reading Spark job)
    val schemaJson = spark.read.parquet(
      (loose.map(_.getPath.toString) ++
        (if (already > 0) Seq(destDir.toString) else Nil)): _*).schema.json
    fs.mkdirs(destDir)
    loose.foreach { st =>
      val dest = new Path(destDir, st.getPath.getName)
      if (!fs.rename(st.getPath, dest))
        throw new IllegalStateException(
          s"convert of $root: rename of ${st.getPath} to $dest failed")
    }
    val meta = metaFor(convertDir)
    val c = Commit(0L, System.currentTimeMillis(), "CREATE", Seq(convertDir),
      Map("numConvertedFiles" -> (loose.size.toLong + already),
        "numOutputRows" -> countDir(convertDir)), schemaJson,
      dirStats = Map(convertDir -> meta.stats),
      dirNulls = Map(convertDir -> meta.nulls))
    log.commit(c); c
  }

  /** [[GraftTable.convertFromDelta]]'s body: adopt a DELTA table in place
    * — its LIVE snapshot files (per `_delta_log` replay, never a glob:
    * dead files a MERGE/DELETE removed stay behind) are RENAMED into the
    * deterministic v0 data dir, partition subpaths preserved (values live
    * in those paths), and commit 0 publishes with the Delta snapshot's
    * schema, partition columns, and CHECK constraints
    * (`delta.constraints.*` → graft constraints). No byte of data is
    * rewritten at any table size. The `_delta_log` is left as a
    * historical artifact but no longer tracks the files — adoption is
    * one-way, exactly like Delta's own `CONVERT TO DELTA` of an Iceberg
    * table. Crash-rerun converges: already-moved files are recognized at
    * their destination and one commit covers them all.
    *
    * Deletion vectors ADOPT: each live file's recorded positions translate
    * into a graft positional-DV dir over the adopted file identity — row
    * indexes are positions within the file and the rename preserves the
    * bytes, so they stay valid verbatim. Column mapping ADOPTS too: the
    * Delta schema's top-level `physicalName` annotations carry into
    * graft's own `graft.colmap.*` entries, so the adopted reads project
    * files by the SAME birth-stable physical names delta-spark wrote.
    *
    * Still refused (read through [[graft.sources.DeltaImport]] and
    * `create` instead): NESTED column mappings (graft maps top-level
    * names only) and mapped PARTITIONED tables (partition values live in
    * physical-named path segments the adopted layout would misread). */
  private[table] def convertFromDeltaInPlace(): Commit = this.synchronized {
    val snap = graft.sources.DeltaImport.snapshot(spark, root)
    val physMap = graft.sources.DeltaImport.topLevelPhysicalNames(snap.schema)
      .filter { case (lg, ph) => lg != ph }
    require(!graft.sources.DeltaImport.hasNestedMapping(snap.schema),
      s"convert of Delta table $root: nested fields carry physical column " +
        "names — read through DeltaImport and create instead")
    require(physMap.isEmpty || snap.partitionColumns.isEmpty,
      s"convert of Delta table $root: column mapping on a partitioned " +
        "table — partition values live in physical-named path segments; " +
        "read through DeltaImport and create instead")
    val convertDir = "data/v00000-convert-delta"
    val rootPath = new Path(root)
    val destRoot = new Path(rootPath, convertDir)
    fs.mkdirs(destRoot)
    val rootAbs = rootPath.toUri.getPath.stripSuffix("/")
    var moved = 0L
    var already = 0L
    // Graft data dirs are scanned as ONE parquet directory: partition
    // (`key=value`) segments must survive as directories, every other
    // intermediate segment would be invisible to the scan — flatten
    // them into the (globally unique) file name instead. Deterministic,
    // so a crashed adoption converges on re-run.
    def destOf(f: graft.sources.DeltaImport.AddFile): (Path, Path) = {
      val src = graft.sources.DeltaImport.resolveFile(root, f.path)
      val rel = src.toUri.getPath.stripPrefix(rootAbs).stripPrefix("/")
      val segs = rel.split("/")
      val partSegs = segs.dropRight(1).filter(s =>
        s.contains("=") && snap.partitionColumns.contains(s.takeWhile(_ != '=')))
      val flatName = segs.filterNot(partSegs.contains).mkString("__")
      (src, new Path(destRoot, (partSegs :+ flatName).mkString("/")))
    }
    snap.files.foreach { f =>
      val (src, dest) = destOf(f)
      if (fs.exists(dest)) already += 1
      else {
        fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest)) throw new IllegalStateException(
          s"convert of Delta table $root: rename of $src to $dest failed")
        moved += 1
      }
    }
    require(moved + already > 0, s"Delta table $root has no live files to adopt")
    // Deletion vectors: decode each DV'd file's recorded positions
    // (driver-side bitmap read — the metadata cost every Delta reader
    // pays) and re-record them as a graft positional-DV dir. The file
    // spelling in the entries comes from the adopted scan's OWN
    // `_metadata.file_path` (never synthesized), so the read-side
    // membership filter matches exactly; the scan touches only the DV'd
    // files, once, at adoption time. Temp-then-rename publish keeps a
    // crashed adoption convergent.
    val dvByName: Map[String, Seq[Long]] = {
      lazy val conf = spark.sessionState.newHadoopConf()
      snap.files.iterator.flatMap { f =>
        f.deletionVector.filter(_.cardinality != 0L).map { d =>
          destOf(f)._2.getName ->
            graft.sources.DeltaDeletionVectors.readPositions(d, root, conf).toSeq
        }
      }.toMap
    }
    val dvPositionCount = dvByName.valuesIterator.map(_.size.toLong).sum
    val convertDvDirs: Seq[String] =
      if (dvByName.isEmpty) Nil
      else {
        val dvDir = "dvs/v00000-convert-delta"
        val dvPath = new Path(rootPath, dvDir)
        if (!fs.exists(dvPath)) {
          val dvFilePaths = snap.files
            .filter(_.deletionVector.exists(_.cardinality != 0L))
            .map(f => destOf(f)._2.toString)
          val entries = spark.read.parquet(dvFilePaths: _*)
            .select(col("_metadata.file_path").as("file"),
              col("_metadata.row_index").as("pos"))
            .filter(array_contains(
              element_at(typedLit(dvByName),
                substring_index(col("file"), "/", -1)),
              col("pos")))
          val tmp = new Path(rootPath, dvDir + ".inprogress")
          fs.delete(tmp, true)
          entries.write.mode("overwrite").parquet(tmp.toString)
          if (!fs.rename(tmp, dvPath)) throw new IllegalStateException(
            s"convert of Delta table $root: publish of DV dir $dvPath failed")
        }
        Seq(dvDir)
      }
    // The snapshot's schema, shorn of Delta-namespace field metadata (the
    // types — NTZ included — are what graft reads plan with).
    val cleanSchema = StructType(snap.schema.fields.map(_.copy(
      metadata = org.apache.spark.sql.types.Metadata.empty)))
    val constraintProps = snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        (ConstraintPrefix + k.stripPrefix("delta.constraints.")) -> v
    }
    // A mapped source adopts with graft's own mapping entries — reads
    // keep projecting files by the birth-stable physical names.
    val mappingProps: Map[String, String] =
      if (physMap.isEmpty) Map.empty
      else Map("graft.columnMapping.mode" -> "name") ++
        physMap.map { case (lg, ph) => GraftTable.ColMapPrefix + lg -> ph }
    // Footers speak physical names; commit 0 predates the head mapping
    // metaFor would consult, so remap the stats keys here.
    val meta0 = metaFor(convertDir)
    val physToLogical = physMap.map(_.swap)
    val meta =
      if (physMap.isEmpty) meta0
      else DirMeta(
        meta0.stats.map { case (k, v) => physToLogical.getOrElse(k, k) -> v },
        meta0.nulls.map { case (k, v) => physToLogical.getOrElse(k, k) -> v })
    val c = Commit(0L, System.currentTimeMillis(), "CREATE", Seq(convertDir),
      Map("numConvertedFiles" -> (moved + already),
        "numDeletedPositions" -> dvPositionCount,
        "numOutputRows" -> (countDir(convertDir) - dvPositionCount)),
      cleanSchema.json,
      partitionCols = snap.partitionColumns,
      dirStats = Map(convertDir -> meta.stats),
      properties = constraintProps.toMap ++ mappingProps,
      dvDirs = convertDvDirs,
      dirNulls = Map(convertDir -> meta.nulls))
    log.commit(c); c
  }

  /** MERGE upsert (M1/M2): `whenMatchedUpdateAll.whenNotMatchedInsertAll`
    * re-expressed as one full-outer join on the key — matched rows take the
    * source image, unmatched-target rows persist, unmatched-source rows
    * insert. With `changedOnly` (the reference's change-detection condition,
    * spark_delta_handler.py:222-236) a matched row only counts as an update
    * — and only emits CDF pre/post images — when some non-key column differs
    * null-safely.
    *
    * Source must be unique per key (Delta MERGE errors otherwise too);
    * upstream CDC batches are deduped to latest-per-key before calling this.
    * Scale: both sides shuffle-partition on the key; a small source side is
    * broadcast by AQE automatically. CDF and snapshot are two jobs over the
    * same join (the join recomputes; caching 100 TB would be worse).
    */
  def merge(source: DataFrame, key: String, changedOnly: Boolean = true,
      compareIgnore: Seq[String] = Nil): Commit =
    this.synchronized {
      val tx = new TableTxn(this, s"MERGE into $root", Some("MERGE"))
      tx.commit(ifAbsent = throw new NoSuchElementException(
          s"merge into non-existent table $root — create it first")) { prev =>
        val targetSchema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
        // Evolution dedups case-INSENSITIVELY (Delta's resolution): a source
        // column differing only in case binds to the existing target field
        // instead of appending a near-duplicate column to the schema.
        val mergedSchema = StructType(targetSchema.fields ++
          source.schema.fields.filterNot(f =>
            targetSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))))
        enforceCompatibleTypes(source.schema, mergedSchema, "merge")
        val sourceCols = source.columns.map(_.toLowerCase).toSet

        val t = alignTo(readCommit(prev), mergedSchema).alias("t")
        // A null merge key can never match (equi-join) and would surface as an
        // all-NULL row; it's corrupt input — drop it rather than corrupt state.
        val s = alignTo(source.filter(col(key).isNotNull), mergedSchema).alias("s")
        val joined = t.join(s, col(s"t.$key") === col(s"s.$key"), "full_outer")

        val sPresent = col(s"s.$key").isNotNull
        val tPresent = col(s"t.$key").isNotNull
        // whenMatchedUpdateAll assigns only columns the SOURCE actually has:
        // target-only columns keep their target value on matched rows.
        def mergedVal(c: String) =
          if (sourceCols.contains(c.toLowerCase))
            when(sPresent, col(s"s.$c")).otherwise(col(s"t.$c"))
          else when(tPresent, col(s"t.$c")).otherwise(col(s"s.$c"))
        // Change detection compares only source-assignable columns, minus any
        // caller-declared volatile metadata (e.g. processing timestamps).
        val compareCols = mergedSchema.fieldNames
          .filter(c => c != key && sourceCols.contains(c.toLowerCase) &&
            !compareIgnore.contains(c)).toSeq
        val changedCond = compareCols
          .map(c => !(col(s"t.$c") <=> col(s"s.$c")))
          .reduceOption(_ || _).getOrElse(lit(false))
        val isUpdate = tPresent && sPresent && (if (changedOnly) changedCond else lit(true))

        val outCols = mergedSchema.fieldNames.toSeq
        val snapshot0 = joined.select(outCols.map(c => mergedVal(c).as(c)): _*)
        // Generated columns are pure functions of the row: recompute them on
        // the POST-merge image (a source that updates a base column must not
        // leave the target's stale derived value; inserts from a source that
        // omits the column must not land null). Identity columns fill only
        // the inserted rows' nulls; CDF insert postimages carry null for
        // engine-assigned ids (the assignment happens in the snapshot job —
        // documented divergence, sources that care provide ids).
        val genSpecs = generatedSpecs(prev.properties)
        val idSpecs = identitySpecs(prev.properties)
        val idHwm = identityHwms(prev.properties, idSpecs)
        val regenerated = genSpecs.foldLeft(snapshot0) { case (d, (n, e)) =>
          d.withColumn(n, expr(e)) }
        val snapshot = fillIdentity(regenerated, idSpecs, idHwm)
        enforceConstraints(snapshot, prev.properties, "MERGE")

        def image(side: String, changeType: String) = {
          // postimage = the merged row (source values + carried target-only
          // columns), preimage = the pre-merge target row.
          val cols =
            if (side == "s") outCols.map(c => mergedVal(c).as(c))
            else outCols.map(c => col(s"t.$c").as(c))
          struct(cols :+ lit(changeType).as("_change_type"): _*)
        }
        // No `otherwise`: unmatched branches yield a null array, which explode
        // drops — unchanged rows emit no CDF rows, in one pass over the join.
        // Generated columns recompute on each image too (pure row functions:
        // exact for pre- AND post-images), keeping CDF consistent with the
        // snapshot's regeneration.
        val changeRows0 = joined.select(explode(
          when(!tPresent && sPresent, array(image("s", "insert")))
            .when(isUpdate, array(image("t", "update_preimage"), image("s", "update_postimage")))
        ).as("c")).select("c.*")
        val changeRows = genSpecs.foldLeft(changeRows0) { case (d, (n, e)) =>
          d.withColumn(n, expr(e)) }
        rewriteStaged(tx, prev, "MERGE", snapshot, Some(changeRows), a => Map(
          "numTargetRowsInserted" -> a.changed("insert"),
          "numTargetRowsUpdated" -> a.changed("update_postimage"))) { (c, dir, meta) =>
          c.copy(schemaJson = mergedSchema.json, properties = c.properties ++
            identityHwmUpdates(dir, meta, idSpecs, idHwm))
        }
      }.get
    }

  /** General MERGE (Delta's full row-level clause surface): ordered
    * `WHEN MATCHED [AND cond] THEN UPDATE SET …` / `UPDATE SET ALL` (star)
    * / `DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT …/INSERT *`, and
    * `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …/DELETE`
    * clauses over one full-outer join on `key`. Within each branch the
    * FIRST clause whose condition holds applies; a row no clause claims
    * is carried unchanged (target rows) or dropped (source rows) — all
    * per-row CASE/WHEN on the single join, so the whole statement is one
    * shuffle + one snapshot write regardless of clause count, and every
    * expression stays inside whole-stage codegen.
    *
    * Clause conditions/values reference the join sides through
    * `targetAlias`/`sourceAlias` (e.g. `col("t.v") > col("s.v")`).
    * Unlike the canonical [[merge]] (reference M2), matched updates here
    * emit CDF pre/post images for EVERY claimed row — Delta's general
    * MERGE does no change detection unless the user writes the condition.
    * Source must be unique per key (same contract as [[merge]]).
    * Schema evolution applies only when a star clause is present
    * (`UPDATE SET *` / `INSERT *`), matching Delta's autoMerge scoping.
    */
  def mergeClauses(source: DataFrame, key: String,
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      targetAlias: String = "t", sourceAlias: String = "s"): Commit =
    mergeClausesOn(source, Seq(key), None, matched, notMatched,
      notMatchedBySource, targetAlias, sourceAlias)

  /** [[mergeClauses]] with a COMPOUND ON: several same-name equi keys
    * plus an optional extra predicate (`ON t.k1 = s.k1 AND t.k2 = s.k2
    * AND t.active`). The full condition lives in the outer join itself,
    * so a key-matched pair failing the extra predicate surfaces as a
    * target-only row AND a source-only row — Delta's semantics (the
    * target row reaches NOT MATCHED BY SOURCE, the source row reaches
    * NOT MATCHED) — while Catalyst still plans a hash/merge join on the
    * equi keys with the extra predicate as the join's residual filter,
    * never a cartesian. */
  def mergeClausesOn(source: DataFrame, keys: Seq[String],
      onExtra: Option[Column],
      matched: Seq[MergeClause] = Nil,
      notMatched: Seq[MergeClause] = Nil,
      notMatchedBySource: Seq[MergeClause] = Nil,
      targetAlias: String = "t", sourceAlias: String = "s"): Commit =
    this.synchronized {
      import MergeClause._
      require(keys.nonEmpty, "MERGE needs at least one equi key")
      matched.foreach {
        case _: InsertAll | _: Insert => throw new IllegalArgumentException(
          "MERGE: INSERT is not valid in the WHEN MATCHED branch")
        case _ => ()
      }
      notMatched.foreach {
        case _: InsertAll | _: Insert => ()
        case other => throw new IllegalArgumentException(
          s"MERGE: only INSERT is valid in the WHEN NOT MATCHED branch, got $other")
      }
      notMatchedBySource.foreach {
        case _: Update | _: Delete => ()
        case other => throw new IllegalArgumentException(
          "MERGE: only UPDATE SET …/DELETE are valid in the WHEN NOT MATCHED " +
            s"BY SOURCE branch (there is no source row to read), got $other")
      }
      require(targetAlias != sourceAlias,
        s"MERGE target and source aliases must differ, both are '$targetAlias'")

      // Insert-only merges append rows and stay legal on an append-only
      // table; any matched / not-matched-by-source clause mutates.
      val mutates = matched.nonEmpty || notMatchedBySource.nonEmpty
      val tx = new TableTxn(this, s"MERGE into $root", Option.when(mutates)("MERGE"))
      tx.commit(ifAbsent = throw new NoSuchElementException(
          s"merge into non-existent table $root — create it first")) { prev =>
        val targetSchema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
        val hasStar = (matched ++ notMatched).exists {
          case _: UpdateAll | _: InsertAll => true; case _ => false
        }
        // Star clauses adopt new source columns (M6 additive evolution);
        // explicit assignments bind to the existing target schema only.
        // Dedup is case-INSENSITIVE — mirroring canon()'s assignment
        // resolution below and Delta's — so a source column differing only
        // in case binds to the existing target field rather than appending
        // a second column to the evolved schema.
        val mergedSchema =
          if (hasStar) StructType(targetSchema.fields ++
            source.schema.fields.filterNot(f =>
              targetSchema.fieldNames.exists(_.equalsIgnoreCase(f.name))))
          else targetSchema
        if (hasStar) enforceCompatibleTypes(source.schema, mergedSchema, "merge")
        val sourceCols = source.columns.map(_.toLowerCase).toSet
        val fieldOf = mergedSchema.fields.map(f => f.name -> f).toMap
        // Assignment keys resolve case-insensitively against the schema.
        def canon(n: String): String = fieldOf.getOrElse(n,
          mergedSchema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
            throw new IllegalArgumentException(
              s"MERGE assignment target '$n' is not a column of the table " +
                s"(columns: ${mergedSchema.fieldNames.mkString(", ")})"))).name
        def canonical(cl: MergeClause): MergeClause = cl match {
          case Update(as, c) => Update(as.map { case (k, ve) => canon(k) -> ve }, c)
          case Insert(as, c) => Insert(as.map { case (k, ve) => canon(k) -> ve }, c)
          case other => other
        }
        val (mCl, iCl, bCl) = (matched.map(canonical), notMatched.map(canonical),
          notMatchedBySource.map(canonical))

        // Side-presence markers survive the outer join where a null business
        // key would lie about its side (a target row with a null key is
        // present, merely unmatchable).
        val tp = "__graft_t_present"; val sp = "__graft_s_present"
        val t = alignTo(readCommit(prev), mergedSchema)
          .withColumn(tp, lit(true)).alias(targetAlias)
        // A null source key can never equi-match and Delta's NOT MATCHED
        // branch still sees it (vacuously unmatched) — keep such rows.
        val s = source.withColumn(sp, lit(true)).alias(sourceAlias)
        val equi = keys.map(k =>
          col(s"$targetAlias.$k") === col(s"$sourceAlias.$k")).reduce(_ && _)
        val onCond = onExtra.map(equi && _).getOrElse(equi)
        val joined = t.join(s, onCond, "full_outer")
        val tPresent = col(s"$targetAlias.$tp").isNotNull
        val sPresent = col(s"$sourceAlias.$sp").isNotNull

        def condOf(cl: MergeClause): Column =
          cl.condition.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
        // First-true clause index per branch; -1 = no clause claims the row.
        def firstIdx(cls: Seq[MergeClause]): Column =
          cls.zipWithIndex.foldRight(lit(-1): Column) { case ((cl, i), els) =>
            when(condOf(cl), lit(i)).otherwise(els)
          }
        val mIdx = firstIdx(mCl); val iIdx = firstIdx(iCl); val bIdx = firstIdx(bCl)

        // The value column `c` takes under clause `cl` (post-image).
        def clauseVal(cl: MergeClause, c: String): Column = {
          val f = fieldOf(c)
          cl match {
            // Source-column presence checks are case-insensitive; the alias
            // reference itself resolves case-insensitively in analysis.
            case _: UpdateAll =>
              if (sourceCols.contains(c.toLowerCase))
                col(s"$sourceAlias.$c").cast(f.dataType)
              else col(s"$targetAlias.$c")
            case Update(as, _) => as.get(c).map(_.cast(f.dataType))
              .getOrElse(col(s"$targetAlias.$c"))
            case _: InsertAll =>
              if (sourceCols.contains(c.toLowerCase))
                col(s"$sourceAlias.$c").cast(f.dataType)
              else lit(null).cast(f.dataType)
            case Insert(as, _) => as.get(c).map(_.cast(f.dataType))
              .getOrElse(lit(null).cast(f.dataType))
            case _: Delete => lit(null).cast(f.dataType) // row never materializes
          }
        }
        def branchVal(cls: Seq[MergeClause], idx: Column, default: Column,
            c: String): Column =
          cls.zipWithIndex.foldRight(default) { case ((cl, i), els) =>
            cl match {
              case _: Delete => els // deleted rows are filtered out below
              case _ => when(idx === i, clauseVal(cl, c)).otherwise(els)
            }
          }
        def outVal(c: String): Column =
          when(tPresent && sPresent, branchVal(mCl, mIdx, col(s"$targetAlias.$c"), c))
            .when(tPresent && !sPresent, branchVal(bCl, bIdx, col(s"$targetAlias.$c"), c))
            .otherwise(branchVal(iCl, iIdx, lit(null).cast(fieldOf(c).dataType), c))
            .as(c)
        def deleteIdxs(cls: Seq[MergeClause]): Seq[Int] =
          cls.zipWithIndex.collect { case (_: Delete, i) => i }
        def isDeleted(cls: Seq[MergeClause], idx: Column): Column =
          deleteIdxs(cls).map(idx === _).reduceOption(_ || _).getOrElse(lit(false))
        val keep =
          when(tPresent && sPresent, !isDeleted(mCl, mIdx))
            .when(tPresent && !sPresent, !isDeleted(bCl, bIdx))
            .otherwise(iIdx >= 0) // source-only rows exist only via INSERT

        val outCols = mergedSchema.fieldNames.toSeq
        val snapshot0 = joined.filter(keep).select(outCols.map(outVal): _*)
        val genSpecs = generatedSpecs(prev.properties)
        val idSpecs = identitySpecs(prev.properties)
        val idHwm = identityHwms(prev.properties, idSpecs)
        val regenerated = genSpecs.foldLeft(snapshot0) { case (d, (n, e)) =>
          d.withColumn(n, expr(e)) }
        val snapshot = fillIdentity(regenerated, idSpecs, idHwm)
        enforceConstraints(snapshot, prev.properties, "MERGE")

        // CDF: one pass over the same join; unmatched/unclaimed rows yield a
        // null array which explode drops.
        def img(cl: Option[MergeClause], side: String, ct: String): Column = {
          val cols = cl match {
            case Some(c) => outCols.map(n => clauseVal(c, n).as(n))
            case None => outCols.map(n => col(s"$side.$n").as(n))
          }
          struct(cols :+ lit(ct).as("_change_type"): _*)
        }
        def branchChanges(cls: Seq[MergeClause], idx: Column,
            guard: Column): Seq[(Column, Column)] =
          cls.zipWithIndex.map { case (cl, i) =>
            val hit = guard && idx === i
            cl match {
              case _: Delete => hit -> array(img(None, targetAlias, "delete"))
              case _: Insert | _: InsertAll =>
                hit -> array(img(Some(cl), sourceAlias, "insert"))
              case _ => hit -> array(
                img(None, targetAlias, "update_preimage"),
                img(Some(cl), targetAlias, "update_postimage"))
            }
          }
        val branches =
          branchChanges(mCl, mIdx, tPresent && sPresent) ++
            branchChanges(bCl, bIdx, tPresent && !sPresent) ++
            branchChanges(iCl, iIdx, !tPresent && sPresent)
        val changeArr = branches.foldRight(lit(null).cast(
          org.apache.spark.sql.types.ArrayType(StructType(
            mergedSchema.fields :+ org.apache.spark.sql.types.StructField(
              "_change_type", org.apache.spark.sql.types.StringType)))): Column) {
          case ((cond, arr), els) => when(cond, arr).otherwise(els)
        }
        val changeRows0 = joined.select(explode(changeArr).as("c")).select("c.*")
        val changeRows = genSpecs.foldLeft(changeRows0) { case (d, (n, e)) =>
          d.withColumn(n, expr(e)) }
        rewriteStaged(tx, prev, "MERGE", snapshot, Some(changeRows), a => Map(
          "numTargetRowsInserted" -> a.changed("insert"),
          "numTargetRowsUpdated" -> a.changed("update_postimage"),
          "numTargetRowsDeleted" -> a.changed("delete"))) { (c, dir, meta) =>
          c.copy(schemaJson = mergedSchema.json, properties = c.properties ++
            identityHwmUpdates(dir, meta, idSpecs, idHwm))
        }
      }.get
    }

  /** DELETE by predicate (M3): left-anti rewrite of
    * `delete(col("id").isin(ids))` / `DELETE FROM t WHERE …`
    * (spark_streaming.py:381-386, spark_delta_handler.py:160-169). */
  def delete(cond: Column): Commit = this.synchronized {
    val tx = new TableTxn(this, s"DELETE of $root", Some("DELETE"))
    tx.commit() { prev =>
      val cur = readCommit(prev)
      val hit = coalesce(cond, lit(false))
      rewriteStaged(tx, prev, "DELETE", cur.filter(!hit),
        Some(cur.filter(hit).withColumn("_change_type", lit("delete"))),
        a => Map("numDeletedRows" -> a.changed("delete")))()
    }.get
  }

  /** DELETE without rewriting any data (merge-on-read — the
    * deletion-vector class of modern lakehouse formats): only the DELETED
    * rows are written, as a tombstone dir; reads subtract them (null-safe
    * whole-row anti-join, scoped to the dirs that existed at delete time —
    * see readCommit), and ANY later snapshot rewrite (merge / update /
    * predicate [[delete]] / overwrite / optimize) materializes the
    * subtraction and clears the tombstones. For a narrow-predicate delete
    * on a huge table this writes kilobytes instead of rewriting the
    * table; the read-side anti-join is broadcast-sized as long as
    * tombstones are small, which is exactly when you choose this over
    * [[delete]]. CDF delete rows are emitted as usual.
    *
    * ISOLATION: by default this is SNAPSHOT-PREDICATE semantics — the
    * delete applies to the rows of the snapshot it computed from, and
    * rebases over concurrent appends, whose rows survive even when they
    * match the predicate (they did not exist in the snapshot). Delta's
    * default WriteSerializable instead aborts when a concurrent append MAY
    * match a DELETE/UPDATE predicate; pass `strict = true` for that
    * behavior — the rebase then aborts with [[ConcurrentWriteException]]
    * iff some concurrently appended row actually matches `cond` (an exact
    * test, reading only the appended dirs). */
  def deleteMergeOnRead(cond: Column, strict: Boolean = false): Commit =
    mutateWhere(None, positional = false, cond, strict)

  /** [[deleteMergeOnRead]] from an explicit snapshot — the REBASE seam.
    * Unlike snapshot rewrites, a merge-on-read delete COMMUTES with
    * concurrent appends: appended rows cannot be among the tombstoned ones
    * (they did not exist in the computed snapshot) and the tombstone's
    * coverage prefix pins it to exactly the dirs it was computed from —
    * so when only APPENDs won the race, the delete rebases onto the new
    * head (both writers land) instead of aborting ([[mutate]]). */
  private[table] def deleteMergeOnReadFrom(snapshot: Commit, cond: Column,
      strict: Boolean = false): Commit =
    mutateWhere(Some(snapshot), positional = false, cond, strict)

  /** DELETE by ROW POSITION — Delta deletion-vector parity (the modern
    * form of the reference's delete path,
    * consumer/python-consumer/delta_handler.py:215-225, which rewrites
    * files copy-on-write): only (file, row_index) pairs of the deleted
    * rows are recorded, kilobytes for a point delete on a 100 TB table,
    * and reads subtract them with a per-file position FILTER inside the
    * scan — NO join in the read plan (compare [[deleteMergeOnRead]]'s
    * value-tombstone anti-join, which this supersedes for point deletes;
    * value tombstones remain for whole-row-semantics deletes). Any later
    * snapshot rewrite materializes the subtraction and clears the DVs;
    * [[maybeMaterialize]] counts DV positions toward the rewrite trigger.
    *
    * Same isolation as [[deleteMergeOnRead]]: rebases over concurrent
    * appends (appended files cannot carry recorded positions), aborts on
    * concurrent rewrites, `strict = true` aborts when appended rows match
    * the predicate. CDF delete rows are stamped with the final commit
    * version. */
  def deletePositional(cond: Column, strict: Boolean = false): Commit =
    mutateWhere(None, positional = true, cond, strict)

  private[table] def deletePositionalFrom(snapshot: Commit, cond: Column,
      strict: Boolean = false): Commit =
    mutateWhere(Some(snapshot), positional = true, cond, strict)

  /** Keyed positional delete — [[deleteKeys]] at deletion-vector cost: the
    * rows to drop come from a distributed SEMI-join against an arbitrarily
    * large key set (a predicate `isin` cannot express millions of keys),
    * but only their positions are written. Deleting a million keys from a
    * 100 TB table costs one semi-join and megabytes of positions, not a
    * table rewrite. Same restart/abort isolation as [[deletePositional]]. */
  def deleteKeysPositional(keys: DataFrame, key: String): Commit = {
    val keyDf = keys.select(col(key)).distinct()
    mutate(None, positional = true, _.join(keyDf, Seq(key), "left_semi"), None)
  }

  private def mutateWhere(from: Option[Commit], positional: Boolean,
      cond: Column, strict: Boolean,
      assignments: Option[Map[String, Column]] = None): Commit = {
    val hit = coalesce(cond, lit(false))
    mutate(from, positional, _.filter(hit), Option.when(strict)(hit), assignments)
  }

  /** The four merge-on-read / positional mutations (DELETE, or UPDATE with
    * `assignments`) of the rows `hitsOf` selects: the rows are marked
    * deleted — by value tombstone, or by (file, row_index) position when
    * `positional` — and an UPDATE appends their updated copies as a new
    * data dir, all in ONE commit. Such a mutation commutes with appends:
    * it rebases when only APPENDs intervened (`strictHit`: unless an
    * appended row matches it), a positional one restarts from the new
    * head when only appends and other merge-on-read mutations did
    * (recomputation drops rows those already deleted, so the two commute
    * — Delta's default aborts here; the predicate, not a precomputed row
    * set, is this operation's identity), and anything else refuses. CDF
    * rows are stamped with the final commit version. */
  private def mutate(from: Option[Commit], positional: Boolean,
      hitsOf: DataFrame => DataFrame, strictHit: Option[Column],
      assignments: Option[Map[String, Column]] = None): Commit = this.synchronized {
    val op = if (assignments.isEmpty) "DELETE" else "UPDATE"
    val what = s"${if (positional) "positional" else "merge-on-read"} " +
      s"${op.toLowerCase} of $root"
    val tx = new TableTxn(this, what, Some(op))
    tx.commit(from) { snap =>
      val v = snap.version + 1
      // prior DVs AND tombstones applied: a row is never marked twice
      val hits = hitsOf(if (positional) readCommitWithPos(snap) else readCommit(snap))
      val pre = if (positional) hits.drop(DvFileCol, DvPosCol) else hits
      val post = assignments.map(as => pre.select(pre.columns.toSeq.map { c =>
        as.get(c).map(e => e.as(c)).getOrElse(col(c))
      }: _*))
      post.foreach(enforceConstraints(_, snap.properties, "UPDATE"))
      val marks =
        if (positional) {
          val dv = tx.stage(dvDirName(v))
          hits.select(col(DvFileCol).as("file"), col(DvPosCol).as("pos"))
            .write.mode("errorifexists").parquet(new Path(root, dv).toString)
          dv
        } else {
          val tomb = tx.stage(f"tombstones/v$v%05d-${uniqueSuffix()}")
          toPhysicalDf(pre, colMapOf(snap.properties))
            .write.mode("errorifexists").parquet(new Path(root, tomb).toString)
          tomb
        }
      val data = post.map(writeData(tx, _, v, snap.partitionCols))
      val meta = data.map(d => d -> metaFor(d)).toMap
      val changes = post match {
        case None => pre.withColumn("_change_type", lit("delete"))
        case Some(p) => pre.withColumn("_change_type", lit("update_preimage"))
          .unionByName(p.withColumn("_change_type", lit("update_postimage")))
      }
      Staged(
        conflict = head =>
          if (!isAppendOnlyRace(snap, head))
            if (positional && isMorOnlyRace(snap, head)) Restart
            else Refuse(s"$what computed from stale version ${snap.version}; " +
              "a non-append commit intervened")
          else if (strictHit.exists(appendedMatches(snap, head, _)))
            Refuse(s"strict $what: a concurrent append after version " +
              s"${snap.version} contains predicate-matching rows")
          else Rebase,
        build = { a =>
          val h = a.head
          Commit(a.version, a.tsMs, op, h.dataDirs ++ data,
            Map(if (post.isEmpty) "numDeletedRows" -> a.changed("delete")
              else "numUpdatedRows" -> a.changed("update_postimage"),
              "mergeOnRead" -> 1L) ++ Option.when(positional)("positionalDelete" -> 1L),
            snap.schemaJson,
            partitionCols = h.partitionCols,
            dirStats = h.dirStats ++ meta.map { case (d, m) => d -> m.stats },
            changesDir = a.changesDir,
            // a tombstone covers exactly the dirs it was computed from
            properties = h.properties ++ Option.when(!positional)(
              TombstoneCoverPrefix + marks -> snap.dataDirs.length.toString),
            tombstoneDirs = h.tombstoneDirs ++ Option.when(!positional)(marks),
            dvDirs = h.dvDirs ++ Option.when(positional)(marks),
            dirNulls = h.dirNulls ++ meta.map { case (d, m) => d -> m.nulls })
        },
        changes = Some(changes))
    }.get
  }

  /** Materialize ONLY the deletion vectors — Delta's `REORG TABLE …
    * APPLY (PURGE)`: rewrite just the data dirs whose files carry
    * recorded positions and drop the DVs; every untouched dir is
    * referenced unchanged. On a 100 TB table a point-delete cleanup then
    * pays for the affected dirs, not a full [[optimize]] rewrite. Falls
    * back to a full optimize when value tombstones exist (their coverage
    * is positional over the dir list and cannot survive a partial
    * restructure). No-op (returns the head) when no DVs are present. */
  def materializeDeletes(targetFileBytes: Long = 128L * 1024 * 1024): Commit =
    this.synchronized {
      val prev = log.latest().getOrElse(throw new NoSuchElementException(s"no table at $root"))
      // already clean — nothing to materialize
      if (prev.dvDirs.isEmpty && prev.tombstoneDirs.isEmpty) return prev
      // value tombstones (with or without DVs): a full compaction folds both
      if (prev.tombstoneDirs.nonEmpty) return optimize(targetFileBytes)
      val tx = new TableTxn(this, s"OPTIMIZE of $root")
      tx.commit(Some(prev)) { prev =>
        // A dir is touched iff some recorded file path lies under it — dir
        // names carry a uniquifying suffix, so the substring match cannot
        // cross dirs. DISTINCT file paths (bounded by the table's file
        // count, not the position count) are collected, never the entries —
        // a billion-position DV still yields a small file list.
        val files = spark.read
          .parquet(prev.dvDirs.map(d => new Path(root, d).toString): _*)
          .select("file").distinct().collect().map(_.getString(0)).toSeq
        val touched = prev.dataDirs.filter(d => files.exists(_.contains("/" + d + "/")))
        val untouched = prev.dataDirs.filterNot(touched.contains)
        rewriteStaged(tx, prev, "OPTIMIZE",
          readCommitInternal(prev.copy(dataDirs = touched), withPos = false),
          metrics = _ => Map("numRewrittenDirs" -> touched.size.toLong)) { (c, _, _) =>
          carrying(c, prev, untouched)
        }
      }.get
    }

  /** UPDATE by ROW POSITION — [[deletePositional]]'s update companion and
    * the DV form of [[updateMergeOnRead]]: matched rows are marked deleted
    * by position (kilobytes) and their updated copies appended as a new
    * data dir, in ONE commit. The read plan stays join-free for the DV
    * subtraction; the appended copies can never be position-marked (their
    * files postdate every recorded position). Same isolation surface:
    * rebases over appends, aborts on rewrites, optional `strict`. */
  def updatePositional(cond: Column, assignments: Map[String, Column],
      strict: Boolean = false): Commit =
    mutateWhere(None, positional = true, cond, strict, Some(assignments))

  private[table] def updatePositionalFrom(snapshot: Commit, cond: Column,
      assignments: Map[String, Column], strict: Boolean = false): Commit =
    mutateWhere(Some(snapshot), positional = true, cond, strict, Some(assignments))

  // ------------------------------------------------- bloom point-lookup index

  /** Per-data-dir BLOOM index over a LongType key column — the Delta
    * bloom-filter-index analogue at dir granularity, for the needle query
    * dir-stats ranges cannot help with (a key inside every dir's [min,
    * max] still lives in exactly one dir). One sidecar file per data dir
    * under `_bloom/<col>/`; [[readPointLookup]] consults them to skip
    * whole dirs before Spark lists a single file. Dirs created after the
    * build have no sidecar and are conservatively kept — re-run after
    * appends/OPTIMIZE as an offline maintenance job, like the index it
    * is. The re-run is INCREMENTAL: data dirs are immutable, so an
    * existing sidecar is never stale and only sidecar-less dirs are
    * scanned — refreshing a 10,000-dir table after one append costs one
    * dir, not 10,000 (`rebuild = true` forces everything, e.g. to apply
    * a new `bitsPerItem`). `bitsPerItem` sizes the fpp (default ~20 bits
    * → ~0.01%: a false positive only costs reading one extra dir). */
  def buildBloomIndex(colName: String, bitsPerItem: Long = 20L,
      rebuild: Boolean = false): Unit = {
    val c = log.latest().getOrElse(throw new NoSuchElementException(s"no table at $root"))
    // BloomFilterAggregate validates against this session cap (default 64M
    // bits = 8 MB); clamp so a huge dir degrades to a coarser filter
    // instead of failing the build.
    val maxBits = spark.conf
      .getOption("spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
      .map(_.toLong).getOrElse(67108864L)
    c.dataDirs.filter(d => rebuild || !fs.exists(bloomPath(colName, d))).foreach { d =>
      val items = math.max(1L, countDir(d))
      // The indexed key is xxhash64(col) — one codegen'd hash per row, and
      // the index works for ANY column type (string doc ids / URLs are the
      // common needle at corpus scale), not just the LongType the bloom
      // aggregate ingests. A hash collision is one more false positive —
      // the exact predicate on top already owns that case.
      val bytes = org.apache.spark.sql.graftnative.BloomOps.buildFilterBytes(
        readDirPlain(c, d), xxhash64(col(colName)), items,
        math.min(items * bitsPerItem, maxBits))
      val target = bloomPath(colName, d)
      fs.mkdirs(target.getParent)
      // Temp-then-rename (the commit log's publish discipline): the
      // incremental refresh trusts any existing sidecar, so a crash
      // mid-write must never leave a truncated one at the final name.
      val tmp = new Path(target.getParent, target.getName + s".tmp-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      fs.delete(target, false)
      if (!fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"could not publish bloom sidecar $target")
      }
      // a lookup before this (re)build may have cached "no sidecar"
      bloomCache.remove((colName, d))
      ()
    }
  }

  /** Point-lookup read: the current snapshot restricted to data dirs whose
    * bloom sidecar (if any) says `value` may be present. A SUPERSET of the
    * matching rows (bloom false positives and un-indexed dirs are kept):
    * apply the exact predicate on top, as with [[readPruned]]. Any key
    * type the `xxhash64` function accepts. */
  def readPointLookup(colName: String, value: Any): DataFrame = {
    val c = log.latest().getOrElse(throw new NoSuchElementException(s"no commits at $root"))
    if (c.tombstoneDirs.nonEmpty) return readCommit(c) // positional coverage
    // same hash the build applied, evaluated driver-side (no job)
    val hashed = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(value)), 42L)
      .eval(null).asInstanceOf[Long]
    val keep = c.dataDirs.filter { d =>
      loadBloom(colName, d) match {
        case Some(bf) => bf.mightContainLong(hashed)
        case None => true
      }
    }
    readCommit(c.copy(dataDirs = keep))
  }

  /** Sidecars are keyed by the PHYSICAL column name: the indexed hashes
    * are of VALUES, which a metadata-only rename never touches — so the
    * same sidecars keep serving lookups under the new logical name (a
    * physical name passed directly maps to itself). */
  private def bloomPath(colName: String, dir: String): Path = {
    val phys = colMapAtHead.getOrElse(colName, colName)
    new Path(root, s"_bloom/$phys/${dir.replace('/', '_')}.bf")
  }

  // Sidecars are immutable once written (overwritten only by a rebuild);
  // cache the deserialized filters per (col, dir).
  private val bloomCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), Option[org.apache.spark.util.sketch.BloomFilter]]
  private def loadBloom(colName: String, dir: String): Option[org.apache.spark.util.sketch.BloomFilter] =
    bloomCache.getOrElseUpdate((colName, dir), {
      val p = bloomPath(colName, dir)
      if (!fs.exists(p)) None
      else {
        try {
          val in = fs.open(p)
          try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
          finally in.close()
        } catch {
          case scala.util.control.NonFatal(_) =>
            // An unreadable sidecar must degrade to "no index" (the dir
            // is conservatively kept), and deleting it restores the
            // self-healing path: the next incremental build sees it
            // missing and rebuilds it.
            try fs.delete(p, false)
            catch { case scala.util.control.NonFatal(_) => () }
            None
        }
      }
    })

  /** One dir of a commit as a plain DataFrame (for index builds). */
  private def readDirPlain(c: Commit, d: String): DataFrame = {
    val cmap = colMapOf(c.properties)
    val schema = physSchemaOf(
      DataType.fromJson(c.schemaJson).asInstanceOf[StructType], cmap)
    val p = new Path(root, d).toString
    toLogicalDf(
      if (c.partitionCols.isEmpty) spark.read.schema(schema).parquet(p)
      else spark.read.option("basePath", p).schema(schema).parquet(p), cmap)
  }

  /** Current head commit (test seam for rebase scenarios). */
  private[table] def headCommit: Option[Commit] = log.latest()

  /** True iff everything committed after `snapshot` is an APPEND that
    * left its schema and dir prefix intact — the condition under which a
    * merge-on-read or positional mutation may REBASE onto `head` instead
    * of aborting (its tombstones/positions reference only the snapshot's
    * immutable dirs, which appends never touch). */
  private def isAppendOnlyRace(snapshot: Commit, head: Commit): Boolean =
    head.version == snapshot.version ||
      (head.schemaJson == snapshot.schemaJson &&
        head.dataDirs.startsWith(snapshot.dataDirs) &&
        log.commits().filter(_.version > snapshot.version)
          .forall(_.operation == "APPEND"))

  /** True iff everything committed after `snapshot` is an APPEND or a
    * merge-on-read/positional mutation (all carry the `mergeOnRead`
    * metric) under an unchanged schema — i.e. no commit REWROTE a file the
    * snapshot referenced. A predicate-defined positional mutation can then
    * RESTART from the new head instead of aborting: recomputation applies
    * the interleaved tombstones/positions, so already-deleted rows drop
    * out of both the new positions and the CDF and the two mutations
    * commute (Delta's default aborts here; the predicate, not a
    * precomputed row set, is this operation's identity). */
  private def isMorOnlyRace(snapshot: Commit, head: Commit): Boolean =
    head.schemaJson == snapshot.schemaJson &&
      log.commits().filter(_.version > snapshot.version)
        .forall(c => c.operation == "APPEND" ||
          c.metrics.get("mergeOnRead").contains(1L))

  /** Strict-isolation conflict test for merge-on-read rebases: true iff
    * some row in the dirs appended AFTER `snapshot` (the suffix beyond its
    * dir prefix — appendOnlyRace already guaranteed the prefix is intact)
    * matches the operation's predicate. Exact where Delta's
    * WriteSerializable check is conservative, and reads ONLY the appended
    * dirs — at scale that's the concurrent batch, not the table. */
  private def appendedMatches(snapshot: Commit, head: Commit, hit: Column): Boolean = {
    val appended = head.dataDirs.drop(snapshot.dataDirs.length)
    appended.nonEmpty && {
      val cmap = colMapOf(snapshot.properties)
      val schema = physSchemaOf(
        DataType.fromJson(snapshot.schemaJson).asInstanceOf[StructType], cmap)
      val df =
        if (head.partitionCols.isEmpty)
          spark.read.schema(schema)
            .parquet(appended.map(d => new Path(root, d).toString): _*)
        else appended.map { d =>
          val p = new Path(root, d).toString
          spark.read.option("basePath", p).schema(schema).parquet(p)
        }.reduce(_ unionByName _)
      !toLogicalDf(df, cmap).filter(hit).isEmpty
    }
  }

  /** UPDATE without rewriting the snapshot (merge-on-read, composing the
    * [[deleteMergeOnRead]] tombstone with an append IN ONE COMMIT):
    * matched rows are tombstoned and their updated copies written as a new
    * data dir. The tombstone's coverage stops at the pre-existing dirs, so
    * the appended updates are never subtracted even when an assignment is
    * a no-op (value-identical copy). Cost: deleted+updated rows written,
    * instead of the whole table. Any later rewrite materializes. */
  def updateMergeOnRead(cond: Column, assignments: Map[String, Column],
      strict: Boolean = false): Commit =
    mutateWhere(None, positional = false, cond, strict, Some(assignments))

  /** [[updateMergeOnRead]] from an explicit snapshot — rebases over
    * concurrent APPENDs exactly like [[deleteMergeOnReadFrom]] (the
    * tombstone's coverage pins it to the computed-from dirs; the updated
    * copies land as a fresh dir after any concurrently appended ones). */
  private[table] def updateMergeOnReadFrom(snapshot: Commit, cond: Column,
      assignments: Map[String, Column], strict: Boolean = false): Commit =
    mutateWhere(Some(snapshot), positional = false, cond, strict, Some(assignments))

  /** Keyed delete as a distributed anti-join — the scale-safe form of the
    * reference's collect-ids-then-isin (spark_streaming.py:381-386). */
  def deleteKeys(keys: DataFrame, key: String): Commit = this.synchronized {
    val tx = new TableTxn(this, s"DELETE of $root", Some("DELETE"))
    tx.commit() { prev =>
      val cur = readCommit(prev)
      val keyDf = keys.select(col(key)).distinct()
      rewriteStaged(tx, prev, "DELETE", cur.join(keyDf, Seq(key), "left_anti"),
        Some(cur.join(keyDf, Seq(key), "left_semi").withColumn("_change_type", lit("delete"))),
        a => Map("numDeletedRows" -> a.changed("delete")))()
    }.get
  }

  /** UPDATE … SET assignments WHERE cond, as a projection rewrite. */
  def update(cond: Column, assignments: Map[String, Column]): Commit = this.synchronized {
    val tx = new TableTxn(this, s"UPDATE of $root", Some("UPDATE"))
    tx.commit() { prev =>
      val cur = readCommit(prev)
      val hit = coalesce(cond, lit(false))
      val updated = cur.columns.toSeq.map { c =>
        assignments.get(c) match {
          case Some(e) => when(hit, e).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }
      enforceConstraints(cur.select(updated: _*), prev.properties, "UPDATE")
      val pre = cur.filter(hit).withColumn("_change_type", lit("update_preimage"))
      val post = cur.filter(hit).select(updated: _*)
        .withColumn("_change_type", lit("update_postimage"))
      rewriteStaged(tx, prev, "UPDATE", cur.select(updated: _*),
        Some(pre.unionByName(post)),
        a => Map("numUpdatedRows" -> a.changed("update_postimage")))()
    }.get
  }

  /** OPTIMIZE bin-pack compaction (S19, spark_delta_handler.py:282-289):
    * rewrite the snapshot into ~`targetFileBytes` files. Data unchanged —
    * no CDF emitted, matching Delta.
    *
    * With `zorderBy`, rows are CLUSTERED on the Z-order (Morton) curve over
    * the given numeric columns before the rewrite — Delta's `OPTIMIZE …
    * ZORDER BY`: each output file then covers a small hyper-rectangle of
    * the value space, so parquet min/max stats prune files for predicates
    * on ANY of the z columns, not just a lead sort key. */
  def optimize(targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Commit = this.synchronized {
    val prev = log.latest().getOrElse(
      throw new NoSuchElementException(s"no table at $root"))
    // A clustered table ([[clusterBy]]) re-clusters on its declared
    // columns whenever OPTIMIZE is not given an explicit order — Delta's
    // liquid-clustering contract (OPTIMIZE on a clustered table clusters).
    val order =
      if (zorderBy.nonEmpty) zorderBy else GraftTable.clusterColsOf(prev.properties)
    optimizeFrom(prev, targetFileBytes, order)
  }

  /** [[optimize]] from an explicit snapshot (test seam for rebase
    * scenarios — same contract as the merge-on-read `*From` variants). */
  private[table] def optimizeFrom(prev: Commit, targetFileBytes: Long,
      zorderBy: Seq[String]): Commit = {
    val tx = new TableTxn(this, s"OPTIMIZE of $root")
    tx.commit(Some(prev)) { prev =>
      val totalBytes = prev.dataDirs.map { d =>
        fs.getContentSummary(new Path(root, d)).getLength
      }.sum
      val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
      // A row-tracked compaction MATERIALIZES the ids it read into the
      // rewritten files (see [[RowIdCol]]) — the one place ids must become
      // physical, because the new layout matches no historical derivation.
      val snapshot =
        if (rowTrackingOn(prev)) readWithRowIdsOf(prev) else readCommit(prev)
      val clustered =
        if (zorderBy.isEmpty) snapshot.repartition(numFiles)
        else zorderCluster(snapshot, zorderBy, numFiles)
      compactStaged(tx, prev, prev.dataDirs, clustered,
        Map("numFiles" -> numFiles.toLong, "numBytes" -> totalBytes))
    }.get
  }

  /** REORG TABLE … APPLY (PURGE) (Delta parity): physically rewrite the
    * snapshot so metadata-retired state stops occupying bytes. A
    * metadata-only DROP COLUMN leaves the column's data sitting in the
    * old files (reads just never project it); merge-on-read tombstones
    * and deletion vectors keep their subtract-on-read cost. One REORG
    * materializes all of it away: the head's schema-projected rows are
    * rewritten at the compaction file target and every retired physical
    * name is PURGED — which also lifts the name retirement, so a dropped
    * column's name can be re-added afterwards (the resurrection hazard
    * [[addColumn]] guards against is gone with the bytes). At 100 TB this
    * is the deliberate, scheduled cost you pay once to reclaim storage —
    * never on the read path. */
  def reorg(targetFileBytes: Long = 128L * 1024 * 1024): Commit = this.synchronized {
    val tx = new TableTxn(this, s"REORG of $root")
    tx.commit() { prev =>
      val numFiles = numFilesOf(prev, targetFileBytes)
      // readCommit is already the purged view: schema-projected (dropped
      // columns absent) and tombstone/DV-subtracted. Row ids survive the
      // purge the same way they survive OPTIMIZE — materialized through.
      val snapshot = (if (rowTrackingOn(prev)) readWithRowIdsOf(prev)
        else readCommit(prev)).repartition(numFiles)
      rewriteStaged(tx, prev, "REORG", snapshot,
        metrics = _ => Map("numFiles" -> numFiles.toLong), rebalance = false) { (c, _, _) =>
        c.copy(properties = c.properties.filterNot(_._1.startsWith(DroppedColPrefix)))
      }
    }.get
  }

  /** Files a rewrite of `prev`'s dirs at `targetFileBytes` each lands as. */
  private def numFilesOf(prev: Commit, targetFileBytes: Long): Int = {
    val totalBytes = prev.dataDirs.map { d =>
      val p = if (new Path(d).isAbsolute) new Path(d) else new Path(root, d)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
    math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
  }

  /** RENAME COLUMN — as an HONEST REWRITE: Delta needs column mapping
    * (logical→physical ids) to rename metadata-only; this engine's reads
    * are name-projected, so instead of carrying a mapping through every
    * scan forever, a rename pays one explicit snapshot rewrite (the
    * [[reorg]] cost model — scheduled, never amortized into reads).
    * Because every live file is rewritten under the new name, no retired
    * name bookkeeping is needed on either side of the rename. Refused for
    * partition columns and for columns referenced by CHECK constraints or
    * generated/identity declarations (their SQL/specs would dangle —
    * drop those first). */
  def renameColumn(from: String, to: String, targetFileBytes: Long = 128L * 1024 * 1024)
      : Commit = this.synchronized {
    val tx = new TableTxn(this, s"RENAME COLUMN of $root")
    tx.commit() { prev =>
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(from), s"no column $from at $root")
      require(!schema.fieldNames.contains(to), s"column $to already exists at $root")
      require(!prev.partitionCols.contains(from),
        s"cannot rename partition column $from of $root (values live in the dir layout)")
      val word = s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
      val referencing = prev.properties.collect {
        case (k, spec) if (k.startsWith(ConstraintPrefix) ||
          k.startsWith(GeneratedColPrefix)) && word.findFirstIn(spec).isDefined => k
        case (k, _) if (k.startsWith(GeneratedColPrefix) ||
          k.startsWith(IdentitySpecPrefix)) &&
          k.stripPrefix(GeneratedColPrefix).stripPrefix(IdentitySpecPrefix) == from => k
      }
      require(referencing.isEmpty,
        s"cannot rename column $from of $root: referenced by ${referencing.mkString(", ")}")
      val snapshot = readCommit(prev).withColumnRenamed(from, to)
        .repartition(numFilesOf(prev, targetFileBytes))
      rewriteStaged(tx, prev, "RENAME COLUMN", snapshot, rebalance = false) { (c, _, _) =>
        val base = c.properties.filterNot(_._1.startsWith(DroppedColPrefix))
        val cluster = GraftTable.clusterColsOf(prev.properties)
        c.copy(schemaJson = snapshot.schema.json, properties =
          if (!cluster.contains(from)) base
          else base + (GraftTable.ClusterByProp ->
            cluster.map(c => if (c == from) to else c).mkString(",")))
      }
    }.get
  }

  /** RENAME COLUMN — METADATA-ONLY (column mapping): the field keeps its
    * on-disk (physical) name forever; only the LOGICAL name in the schema
    * moves, recorded as a [[GraftTable.ColMapPrefix]] property. Reads
    * project files by physical name and restore logical names at the scan
    * boundary; writes do the inverse — so on a 100 TB table the rename
    * costs one log entry where [[renameColumn]]'s honest rewrite costs a
    * full snapshot pass. The Delta export bridge mirrors it as a
    * metadata-only commit under `delta.columnMapping.mode=name`
    * (delta.io PROTOCOL.md "Column Mapping" — the same stable-physical-
    * name scheme). Same refusals as [[renameColumn]], plus: the new name
    * must not collide with a name old files still carry (another live
    * column's physical name, or a DROP-retired one). */
  def renameColumnMetadataOnly(from: String, to: String): Commit = this.synchronized {
    alterTable("RENAME COLUMN") { prev =>
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(from), s"no column $from at $root")
      require(!schema.fieldNames.contains(to), s"column $to already exists at $root")
      require(!prev.partitionCols.contains(from),
        s"cannot rename partition column $from of $root (values live in the dir layout)")
      val word = s"\\b${java.util.regex.Pattern.quote(from)}\\b".r
      val referencing = prev.properties.collect {
        case (k, spec) if (k.startsWith(ConstraintPrefix) ||
          k.startsWith(GeneratedColPrefix)) && word.findFirstIn(spec).isDefined => k
        case (k, _) if (k.startsWith(GeneratedColPrefix) ||
          k.startsWith(IdentitySpecPrefix)) &&
          k.stripPrefix(GeneratedColPrefix).stripPrefix(IdentitySpecPrefix) == from => k
      }
      require(referencing.isEmpty,
        s"cannot rename column $from of $root: referenced by ${referencing.mkString(", ")}")
      val physOfFrom = colMapOf(prev.properties).getOrElse(from, from)
      // Renaming BACK to the column's own physical name is always safe
      // (the mapping entry simply disappears); any other claimed name
      // would collide with bytes old files still carry.
      require(to == physOfFrom ||
        !claimedPhysNames(schema, prev.properties).contains(to),
        s"cannot rename $from to $to at $root: old files still carry a " +
          s"column named $to (a physical or retired name)")
      val renamed = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      def rekey[A](m: Map[String, A]): Map[String, A] =
        m.map { case (k, v) => (if (k == from) to else k) -> v }
      prev.copy(schemaJson = renamed.json,
        // Skipping metadata is keyed by LOGICAL names — it travels with
        // the rename so pruning keeps working without re-derivation.
        dirStats = prev.dirStats.map { case (d, m) => d -> rekey(m) },
        dirNulls = prev.dirNulls.map { case (d, m) => d -> rekey(m) },
        properties = {
          val base = prev.properties - (GraftTable.ColMapPrefix + from)
          val mapped =
            if (to == physOfFrom) base
            else base + (GraftTable.ColMapPrefix + to -> physOfFrom)
          // Clustering declarations are logical-name-keyed, like the
          // skipping metadata — they travel with the rename.
          val cluster = GraftTable.clusterColsOf(prev.properties)
          if (!cluster.contains(from)) mapped
          else mapped + (GraftTable.ClusterByProp ->
            cluster.map(c => if (c == from) to else c).mkString(","))
        })
    }
  }

  /** Metadata-only column TYPE WIDENING — the Delta `typeWidening`
    * analogue: the schema's type changes in ONE log entry and no data
    * file is rewritten at any table size. Old files keep their narrow
    * physical type; every read path already plans with the commit's
    * schema, and Spark 4's parquet readers widen natively at scan time
    * (int32 pages decode straight into long/double/decimal vectors — no
    * post-scan cast operator). The change appends to the column's
    * `graft.typeChange.<physical>` history, which the Delta export
    * bridge mirrors as `delta.typeChanges` field metadata + the
    * `typeWidening` reader/writer feature, so the mirror's type change
    * is metadata-only too.
    *
    * Reference scope: the reference delegates ALTER TABLE to the Delta
    * library (delta_handler.py's table DDL surface); this is that
    * capability rebuilt on the graft commit log.
    *
    * Bloom sidecars on the widened column are DROPPED, not kept: the
    * indexed keys are `xxhash64` of the column's typed values, and
    * xxhash64(8: Int) != xxhash64(8L) — a kept sidecar would produce
    * false NEGATIVES (wrong pruning) the moment reads serve the wide
    * type. Rebuilding is the same offline maintenance as after appends. */
  def widenColumnType(name: String, to: DataType): Commit = this.synchronized {
    val committed = alterTable("WIDEN COLUMN") { prev =>
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      require(schema.fieldNames.contains(name), s"no column $name at $root")
      val from = schema(name).dataType
      require(GraftTable.isWidening(from, to),
        s"cannot widen $name of $root from ${from.simpleString} to " +
          s"${to.simpleString}: not in the lossless widening set")
      require(!prev.partitionCols.contains(name),
        s"cannot widen partition column $name of $root (values live in the dir layout)")
      // Constraint / generated-column expressions and identity specs are
      // type-sensitive (overflow behavior, hash inputs, result types):
      // widening a column they reference could silently change their
      // semantics — same conservative guard as the metadata-only rename.
      val word = s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
      val referencing = prev.properties.collect {
        case (k, spec) if (k.startsWith(ConstraintPrefix) ||
          k.startsWith(GeneratedColPrefix)) && word.findFirstIn(spec).isDefined => k
        case (k, _) if (k.startsWith(GeneratedColPrefix) ||
          k.startsWith(IdentitySpecPrefix)) &&
          k.stripPrefix(GeneratedColPrefix).stripPrefix(IdentitySpecPrefix) == name => k
      }
      require(referencing.isEmpty,
        s"cannot widen column $name of $root: referenced by ${referencing.mkString(", ")}")
      val widened = StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
      val phys = colMapOf(prev.properties).getOrElse(name, name)
      val key = GraftTable.TypeChangePrefix + phys
      val entry = s"""{"fromType":"${GraftTable.deltaTypeName(from)}",""" +
        s""""toType":"${GraftTable.deltaTypeName(to)}",""" +
        s""""tableVersion":${prev.version}}"""
      val hist = prev.properties.get(key)
        .map(j => j.stripSuffix("]") + "," + entry + "]")
        .getOrElse("[" + entry + "]")
      prev.copy(schemaJson = widened.json,
        properties = prev.properties + (key -> hist))
    }
    val phys = colMapAtHead.getOrElse(name, name)
    val bloomDir = new Path(root, s"_bloom/$phys")
    if (fs.exists(bloomDir)) fs.delete(bloomDir, true)
    bloomCache.keys.toSeq
      .filter(k => colMapAtHead.getOrElse(k._1, k._1) == phys)
      .foreach(bloomCache.remove)
    committed
  }

  /** Selective OPTIMIZE — Delta's `OPTIMIZE … WHERE`: compact (and
    * optionally Z-order) ONLY the dirs whose skipping metadata admits
    * `predicate`, leaving every other dir byte-untouched with its stats
    * carried forward. This is how a 100 TB table is maintained in
    * practice — "compact yesterday's small streaming appends" touches
    * yesterday's dirs, not years of history. Dir selection is the same
    * conservative superset [[where]] uses, which is exactly right here:
    * compaction must rewrite whole dirs anyway, and rewriting a dir the
    * predicate didn't really touch only costs IO, never rows. Requires a
    * clean snapshot (run [[materializeDeletes]] first if merge-on-read
    * state exists — a partial rewrite can't split tombstone coverage). */
  def optimizeWhere(predicate: Column,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil): Commit = this.synchronized {
    optimizeWhereFrom(log.latest().getOrElse(
      throw new NoSuchElementException(s"no table at $root")),
      predicate, targetFileBytes, zorderBy)
  }

  /** [[optimizeWhere]] from an explicit snapshot (test seam for rebase
    * scenarios). */
  private[table] def optimizeWhereFrom(prev: Commit, predicate: Column,
      targetFileBytes: Long, zorderBy: Seq[String]): Commit = {
    require(prev.tombstoneDirs.isEmpty && prev.dvDirs.isEmpty,
      s"optimizeWhere on $root requires a clean snapshot — run materializeDeletes() first")
    val touched = dirsMayMatching(prev, predicate)
    if (touched.isEmpty) return prev // nothing to compact, no empty commit
    compactDirSubset(prev, touched, targetFileBytes, zorderBy)
  }

  /** Rewrite `touched` dirs into one compacted dir and commit with
    * rebase-over-append — the shared body of [[optimizeWhere]] and
    * [[compactSmall]]. */
  private def compactDirSubset(prev: Commit, touched: Seq[String],
      targetFileBytes: Long, zorderBy: Seq[String]): Commit = {
    val tx = new TableTxn(this, s"OPTIMIZE of $root")
    tx.commit(Some(prev)) { prev =>
      val touchedBytes = touched.map { d =>
        fs.getContentSummary(new Path(root, d)).getLength
      }.sum
      val numFiles = math.max(1, math.ceil(touchedBytes.toDouble / targetFileBytes).toInt)
      val sub = prev.copy(dataDirs = touched)
      val subset =
        if (rowTrackingOn(prev)) readWithRowIdsOf(sub)
        else readCommitInternal(sub, withPos = false)
      val clustered =
        if (zorderBy.isEmpty) subset.repartition(numFiles)
        else zorderCluster(subset, zorderBy, numFiles)
      compactStaged(tx, prev, touched, clustered,
        Map("numRewrittenDirs" -> touched.size.toLong, "numFiles" -> numFiles.toLong,
          "numBytes" -> touchedBytes))
    }.get
  }

  /** Stages an OPTIMIZE-family rewrite of `prev`'s `rewritten` dirs as one
    * compacted dir, with REBASE-over-append: compaction is
    * semantics-preserving and rewrites a declared dir subset, so a
    * concurrent APPEND (same schema — [[isAppendOnlyRace]] checks it — over
    * clean snapshots) can never conflict with it: the commit re-lands on
    * the new head with the appended dirs carried forward untouched. Delta
    * resolves the same disjoint-file case instead of failing the
    * maintenance job — at 100 TB, ingestion never pauses for compaction
    * and compaction never loses to ingestion. Any other intervening commit
    * (schema change, another rewrite, merge-on-read state on either side)
    * refuses. */
  private def compactStaged(tx: TableTxn, prev: Commit, rewritten: Seq[String],
      rows: DataFrame, metrics: Map[String, Long]): Staged = {
    val dir = writeData(tx, rows, prev.version + 1, prev.partitionCols, rebalance = false)
    val meta = metaFor(dir)
    def clean(c: Commit): Boolean = c.tombstoneDirs.isEmpty && c.dvDirs.isEmpty
    Staged(
      head =>
        if (isAppendOnlyRace(prev, head) && clean(prev) && clean(head)) Rebase
        else Refuse(s"OPTIMIZE of $root computed from stale version ${prev.version}; a " +
          "non-append commit intervened; rolled back — retry against the new head"),
      a => carrying(Commit(a.version, a.tsMs, "OPTIMIZE", Seq(dir), metrics,
        a.head.schemaJson,
        partitionCols = a.head.partitionCols,
        dirStats = Map(dir -> meta.stats),
        properties = rewriteProps(a.head.properties),
        dirNulls = Map(dir -> meta.nulls)),
        a.head, a.head.dataDirs.filterNot(rewritten.contains)))
  }

  /** Selective overwrite — Delta's `replaceWhere`: atomically replace
    * exactly the rows matching `predicate` with `df`, after validating
    * that every replacement row itself satisfies the predicate (Delta's
    * rule — a backfill must not smuggle rows into ranges it didn't
    * claim). This is the standard 100 TB backfill operation ("recompute
    * last Tuesday"): dirs whose skipping metadata proves no row can match
    * are carried byte-untouched with their stats; only the conservative
    * touched superset is read, and its survivors (predicate-false or
    * -null rows — SQL semantics: a NULL predicate does not match, so the
    * row is kept) are rewritten alongside the replacement. Requires a
    * clean snapshot (run [[materializeDeletes]] first), same rule as
    * [[optimizeWhere]]. Reference anchor: the Delta overwrite path
    * (consumer/python-consumer/delta_handler.py write modes) generalized
    * to predicate scope. */
  def replaceWhere(df: DataFrame, predicate: Column): Commit = this.synchronized {
    val tx = new TableTxn(this, s"REPLACEWHERE of $root", Some("REPLACEWHERE"))
    tx.commit() { prev =>
      require(prev.tombstoneDirs.isEmpty && prev.dvDirs.isEmpty,
        s"replaceWhere on $root requires a clean snapshot — run materializeDeletes() first")
      val schema = DataType.fromJson(prev.schemaJson).asInstanceOf[StructType]
      val (prepared, idSpecs, idHwm) = prepareWrite(df, prev.properties, "replaceWhere")
      enforceCompatibleTypes(prepared.schema, schema, "replaceWhere")
      val aligned = GraftTable.alignTo(prepared, schema)
      val matches = coalesce(predicate, lit(false))
      if (!aligned.filter(!matches).isEmpty)
        throw new IllegalArgumentException(
          s"replaceWhere on $root: replacement rows must all satisfy the predicate " +
            s"($predicate) — rows outside the replaced region would silently widen the overwrite")
      enforceConstraints(aligned, prev.properties, "REPLACEWHERE")
      val touched = dirsMayMatching(prev, predicate)
      val untouched = prev.dataDirs.filterNot(touched.contains)
      val survivors = readCommitInternal(prev.copy(dataDirs = touched), withPos = false)
        .filter(!matches)
      rewriteStaged(tx, prev, "REPLACEWHERE", survivors.unionByName(aligned),
        metrics = _ => Map("numRewrittenDirs" -> touched.size.toLong)) { (c, dir, meta) =>
        carrying(c.copy(properties = c.properties ++
          identityHwmUpdates(dir, meta, idSpecs, idHwm)), prev, untouched)
      }
    }.get
  }

  private val ZorderBits = 8 // 256 quantile buckets per column

  /** Range-partition + sort on an interleaved-bit Morton key. Per-column
    * bucket ids come from approx quantiles (robust to skew; the cutpoint
    * array is driver-side metadata, 255 doubles per column), the key is a
    * pure column expression, and the layout job is one
    * `repartitionByRange` — fully distributed. */
  /** Order-preserving numeric surrogate for quantile bucketing. Numerics
    * and timestamps cast directly; STRINGS pack their first 6 codepoints
    * (capped at 255) big-endian into a long — monotone w.r.t. string order
    * at 6-byte-prefix granularity, and ≤ 2^48 so the double cast is exact.
    * Prefix granularity is all bucketing needs: columns whose values only
    * diverge past 6 chars share buckets, which costs locality, not
    * correctness. */
  private def zorderSurrogate(c: String, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.StringType =>
      (1 to 6).map(i =>
        least(coalesce(ascii(substring(col(c), i, 1)), lit(0)), lit(255)).cast("long")
          * lit(1L << ((6 - i) * 8)))
        .reduce(_ + _).cast("double")
    case _ => col(c).cast("double")
  }

  private def zorderCluster(df: DataFrame, cols: Seq[String], numFiles: Int): DataFrame = {
    val n = 1 << ZorderBits
    val probs = (1 until n).map(_.toDouble / n).toArray
    val dtypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val withDoubles = cols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zc_$c", zorderSurrogate(c, dtypes(c))))
    val cuts: Map[String, Seq[Double]] = cols.map { c =>
      c -> withDoubles.stat.approxQuantile(s"__zc_$c", probs, 0.01).toSeq
    }.toMap
    // bucket = number of cutpoints strictly below the value (0..n-1);
    // nulls sort into bucket 0. Materialized once per column so the bit
    // extraction below reuses it instead of re-running the cutpoint scan
    // per bit.
    val withBuckets = cols.foldLeft(withDoubles)((d, c) =>
      d.withColumn(s"__zb_$c",
        size(filter(typedLit(cuts(c)), x => x < col(s"__zc_$c"))).cast("long")))
    val k = cols.length
    val z = (0 until ZorderBits).flatMap { b =>
      cols.zipWithIndex.map { case (c, i) =>
        shiftright(col(s"__zb_$c"), b).bitwiseAND(1) * lit(1L << (b * k + i))
      }
    }.reduce(_ + _)
    withBuckets.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: cols.flatMap(c => Seq(s"__zc_$c", s"__zb_$c")): _*)
  }

  /** Consolidate the commit log into a single checkpoint file (Delta's
    * `_last_checkpoint` pattern): cold opens then read one file plus any
    * newer commits instead of listing/parsing the whole history. Cheap;
    * call every N commits on long-running tables. */
  def checkpointLog(): Unit = log.checkpoint()

  /** Compact when the snapshot has accumulated more than `maxDataDirs`
    * append dirs — the guard the streaming append sink calls per batch so a
    * long-running stream doesn't degrade into the one-file-per-event
    * pathology the reference exhibits on its delta-rs path
    * (delta_handler.py:107-112; SURVEY §4 "small files"). */
  def maybeCompact(maxDataDirs: Int, targetFileBytes: Long = 128L * 1024 * 1024): Option[Commit] =
    log.latest() match {
      case Some(c) if c.dataDirs.length > maxDataDirs => Some(optimize(targetFileBytes))
      case _ => None
    }

  /** Materialize merge-on-read state when tombstones have grown past
    * `maxTombstoneRatio` of the live rows (footer counts — metadata-only
    * check, no scan): every read pays the anti-join while tombstones live,
    * so once they stop being "small relative to the table" the one-time
    * rewrite is cheaper than the recurring read tax. The MoR write path's
    * periodic-compaction companion, like [[maybeCompact]] for small
    * files. */
  def maybeMaterialize(maxTombstoneRatio: Double = 0.1,
      targetFileBytes: Long = 128L * 1024 * 1024): Option[Commit] =
    log.latest() match {
      case Some(c) if c.tombstoneDirs.nonEmpty || c.dvDirs.nonEmpty =>
        val dead = (c.tombstoneDirs ++ c.dvDirs).map(countDir).sum.toDouble
        val live = math.max(1L, c.dataDirs.map(countDir).sum - dead.toLong).toDouble
        if (dead / live > maxTombstoneRatio) Some(optimize(targetFileBytes)) else None
      case _ => None
    }

  /** RESTORE (M12): re-publish an old version as the new head. Metadata-only
    * — the new commit references the old version's immutable dirs. Like a
    * rewrite, a concurrent commit invalidates the restore-over-THAT-head
    * intent, so it aborts rather than rebases. */
  def restore(v: Long): Commit = this.synchronized {
    new TableTxn(this, s"RESTORE of $root", Some("RESTORE")).commit() { head =>
      val old = commitFor(v)
      Staged(staleRewrite(head, "RESTORE"), a => Commit(a.version, a.tsMs,
        "RESTORE", old.dataDirs,
        Map("restoredVersion" -> v), old.schemaJson,
        partitionCols = old.partitionCols,
        dirStats = old.dirStats,
        properties = old.properties,
        tombstoneDirs = old.tombstoneDirs,
        dvDirs = old.dvDirs, dirNulls = old.dirNulls))
    }.get
  }

  /** VACUUM (S18/M10, delta_handler.py:275-285; default retention 168 h,
    * shared/config.py:109): delete data/CDF dirs only referenced by commits
    * older than the cutoff, keeping everything the current head references.
    * Log ENTRIES are kept (like Delta): history stays complete, expired
    * versions fail loudly on read, and `appendOnce`'s txn stamps survive so
    * exactly-once replay detection keeps working after a vacuum. Returns
    * the deleted dirs. */
  def vacuum(retentionHours: Double = 168.0, nowMs: Long = System.currentTimeMillis(),
      dryRun: Boolean = false, full: Boolean = false): Seq[String] =
    this.synchronized {
      val cutoff = nowMs - (retentionHours * 3600 * 1000).toLong
      val all = log.commits()
      if (all.isEmpty) return Nil
      val headVersion = all.last.version
      val keep = all.filter(c => c.version == headVersion || c.tsMs >= cutoff)
      val keepDirs = keep.flatMap(c => c.dataDirs ++ c.tombstoneDirs ++ c.dvDirs).toSet
      val expired = all.filter(c => c.version != headVersion && c.tsMs < cutoff)
      // FULL mode (Delta's default VACUUM vs its log-only LITE — this
      // engine's default is the LITE shape because the commit log itemizes
      // every dir it ever wrote): additionally LIST the table's dir roots
      // and reclaim UNTRACKED debris — a dir a crashed writer populated but
      // never committed is referenced by no commit, so the log-driven pass
      // can never reclaim it, and at 100 TB those leaks are real bytes.
      // Only dirs older than the cutoff qualify (an in-flight writer's dir
      // has fresh mtimes — same recency rule Delta's file-level vacuum
      // uses), and the listing cost is one shallow LIST per dir root.
      lazy val orphanDirs: Seq[String] = {
        val tracked = all.flatMap(c =>
          c.dataDirs ++ c.tombstoneDirs ++ c.dvDirs :+ changesDirOf(c)).toSet
        def newestMs(p: Path): Long = {
          val st = fs.getFileStatus(p)
          if (!st.isDirectory) st.getModificationTime
          else (st.getModificationTime +: fs.listStatus(p).map(s =>
            if (s.isDirectory) newestMs(s.getPath) else s.getModificationTime
          ).toSeq).max
        }
        Seq("data", "tombstones", "dvs", "_changes").flatMap { base =>
          val basePath = new Path(root, base)
          if (!fs.exists(basePath)) Nil
          else fs.listStatus(basePath).filter(_.isDirectory).toSeq
            .map(s => s"$base/${s.getPath.getName}")
            .filterNot(tracked.contains)
            .filter(d => newestMs(new Path(root, d)) < cutoff)
        }
      }
      if (dryRun) // VACUUM DRY RUN: report the reclaimable dirs, touch nothing
        return (expired.flatMap(c => c.dataDirs ++ c.tombstoneDirs ++ c.dvDirs)
          .filterNot(keepDirs.contains)
          .filterNot(d => new Path(d).isAbsolute)
          .filter(d => fs.exists(new Path(root, d)))
          ++ (if (full) orphanDirs else Nil)).distinct
      val deleted = Seq.newBuilder[String]
      if (full) orphanDirs.foreach { d =>
        if (fs.delete(new Path(root, d), true)) deleted += d
      }
      expired.foreach { c =>
        // Never delete EXTERNAL (absolute) dir references — those are
        // another table's files, present when this table is a shallow
        // clone; only dirs this table wrote under its own root are ours
        // to reclaim (same ownership rule as Delta's shallow clones).
        (c.dataDirs ++ c.tombstoneDirs ++ c.dvDirs).filterNot(keepDirs.contains)
          .filterNot(d => new Path(d).isAbsolute).foreach { d =>
            if (fs.delete(new Path(root, d), true)) deleted += d
          }
        fs.delete(new Path(root, changesDirOf(c)), true)
      }
      // Bloom sidecars of reclaimed (or otherwise unreferenced) dirs are
      // dead weight — reap any whose encoded dir name no longer matches a
      // retained dir. Sidecars are derived data: deleting one only costs
      // a rebuild, never correctness (lookups keep sidecar-less dirs).
      val bloomRoot = new Path(root, "_bloom")
      if (fs.exists(bloomRoot)) {
        val keepEncoded = keepDirs.map(_.replace('/', '_'))
        fs.listStatus(bloomRoot).filter(_.isDirectory).foreach { colDir =>
          fs.listStatus(colDir.getPath)
            .filter(f => f.isFile && f.getPath.getName.endsWith(".bf"))
            .filterNot(f => keepEncoded.contains(f.getPath.getName.stripSuffix(".bf")))
            .foreach { f =>
              if (fs.delete(f.getPath, false))
                deleted += s"_bloom/${colDir.getPath.getName}/${f.getPath.getName}"
            }
        }
      }
      deleted.result()
    }

  /** ALTER TABLE … DROP FEATURE (Delta parity, delta.io PROTOCOL.md
    * "Table Features" + delta-spark's ALTER TABLE DROP FEATURE): remove a
    * table feature so downgraded readers/writers can use the table again.
    * Supported: `deletionVectors`. Preconditions mirror Delta's:
    *
    *  - the CURRENT snapshot must carry no deletion vectors (run
    *    [[materializeDeletes]] / REORG APPLY (PURGE) first);
    *  - HISTORICAL versions that still carry DVs block the drop unless
    *    `truncateHistory` — Delta makes you wait out the retention window
    *    or truncate; an offline engine can't wait, so truncation is the
    *    offered path.
    *
    * With `truncateHistory`: after the DROP FEATURE commit lands, every
    * superseded data/tombstone/DV dir is reclaimed (the vacuum body, with
    * the retention floor forced to "now") and the commit log is truncated
    * to the drop commit — time travel below it then fails version lookup,
    * exactly Delta's post-truncation behavior. The Delta mirror maps the
    * commit to a protocol DOWNGRADE action ([[graft.sources.DeltaExport]]),
    * which is how delta-spark itself publishes a drop. */
  def dropFeature(feature: String, truncateHistory: Boolean = false): Commit =
    this.synchronized {
      require(feature == "deletionVectors",
        s"DROP FEATURE $feature: only deletionVectors is droppable " +
          "(columnMapping/typeWidening leave physical traces in data files)")
      val all = log.commits()
      val head = all.lastOption.getOrElse(
        throw new NoSuchElementException(s"no table at $root"))
      require(head.dvDirs.isEmpty,
        s"DROP FEATURE deletionVectors on $root: the current snapshot " +
          "still carries deletion vectors — run materializeDeletes() first")
      val historical = all.filter(c => c.version != head.version && c.dvDirs.nonEmpty)
      if (historical.nonEmpty && !truncateHistory)
        throw new IllegalStateException(
          s"DROP FEATURE deletionVectors on $root: ${historical.size} " +
            "historical version(s) still carry deletion vectors; readers " +
            "time-traveling there would need the feature. Re-run with " +
            "truncateHistory=true (TRUNCATE HISTORY) to cut them off")
      val c = alterTable(s"DROP FEATURE $feature") { prev =>
        prev.copy(properties = prev.properties - "delta.enableDeletionVectors")
      }
      if (truncateHistory) {
        // Reclaim everything the drop commit does not reference, then cut
        // the log at the drop commit. nowMs is bumped so even commits
        // stamped this millisecond count as expired.
        vacuum(retentionHours = 0.0, nowMs = System.currentTimeMillis() + 1000L)
        log.truncateTo(c.version)
      }
      c
    }

  /** SHALLOW CLONE (Delta parity): start a NEW table at `targetRoot` whose
    * first commit REFERENCES this table's data directories at version `v`
    * — zero bytes copied, metadata only. The clone then evolves
    * independently: its own commits write under its own root (rewrites
    * naturally "thicken" it away from the source), and its VACUUM never
    * touches the referenced source files. As with Delta shallow clones,
    * the source's files must outlive the clone — VACUUM on the SOURCE is
    * the documented hazard. */
  def shallowClone(targetRoot: String, v: Long = -1L): GraftTable = {
    val srcV = if (v < 0) version else v
    val src = commitFor(srcV)
    def abs(d: String): String = new Path(root, d).toString
    val target = new GraftTable(spark, targetRoot)
    require(target.version < 0, s"table already exists at $targetRoot")
    target.log.commit(Commit(
      0L, System.currentTimeMillis(), "CLONE",
      src.dataDirs.map(abs),
      Map("sourceVersion" -> srcV,
        "numOutputRows" -> src.metrics.getOrElse("numOutputRows", -1L)),
      src.schemaJson,
      partitionCols = src.partitionCols,
      dirStats = src.dirStats.map { case (d, s) => abs(d) -> s },
      dirNulls = src.dirNulls.map { case (d, s) => abs(d) -> s },
      properties = src.properties.map {
        case (k, v) if k.startsWith(TombstoneCoverPrefix) =>
          (TombstoneCoverPrefix + abs(k.stripPrefix(TombstoneCoverPrefix))) -> v
        case kv => kv
      },
      tombstoneDirs = src.tombstoneDirs.map(abs),
      // DV entries name files by the absolute path the scan reports, so
      // they stay valid when the clone reads the SOURCE's files; the DV
      // dirs themselves are referenced absolutely like the data dirs.
      dvDirs = src.dvDirs.map(abs)))
    target
  }

  /** DEEP CLONE (Delta parity): start a NEW table at `targetRoot` holding
    * its OWN copy of this table's snapshot at version `v` — fully
    * independent of the source's lifecycle (source VACUUM is harmless,
    * unlike [[shallowClone]]). The snapshot is written through the normal
    * distributed write path (merge-on-read state materializes away in the
    * copy), and table properties travel: constraints, generated/identity
    * declarations AND the identity high watermark, so writers to the clone
    * keep allocating above the source's ids — Delta's clone semantics. */
  def deepClone(targetRoot: String, v: Long = -1L): GraftTable = {
    val srcV = if (v < 0) version else v
    val src = commitFor(srcV)
    val target = new GraftTable(spark, targetRoot)
    require(target.version < 0, s"table already exists at $targetRoot")
    val snapshot = readCommit(src)
    target.overwriteInternal(snapshot, src.partitionCols, None,
      rewriteProps(src.properties))
    target
  }
}

/** A concurrent writer won the version race against an operation that
  * cannot commit over its commit (it computed from the now-stale snapshot),
  * or the operation lost every race of its attempt bound. Its staged dirs
  * were reaped; retry it against the new head. Appends never throw this
  * under normal contention — they rebase ([[TableTxn]]). */
final class ConcurrentWriteException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

object GraftTable {

  /** Canonical spelling of a data-file URI for COPY INTO ledger identity:
    * Hadoop preserves `file:/x` vs `file:///x` (null vs empty authority)
    * depending on how a listing was produced; the ledger compares
    * (scheme, authority, path) so one file has exactly one key. */
  private[table] def canonFileUri(u: String): String = {
    val uri = new Path(u).toUri
    if (uri.getScheme == null) uri.getPath
    else s"${uri.getScheme}://${Option(uri.getAuthority).getOrElse("")}${uri.getPath}"
  }

  // private[graft]: the Delta export bridge reads these to decide which
  // writer features / materialization coverage a commit's properties imply.
  private[graft] val ConstraintPrefix = "constraint."
  private[graft] val TombstoneCoverPrefix = "tombstone.cover."
  private[table] val DroppedColPrefix = "graft.droppedCol."
  /** Logical→physical column-name mapping entries
    * (`graft.colmap.<logical> = <physical>`) — present only for columns a
    * metadata-only RENAME has moved away from their on-disk (physical)
    * name. Physical names are assigned at column birth and never change;
    * absence of an entry means logical == physical (the common case).
    * Same stable-physical-name scheme as Delta column mapping
    * (delta.io PROTOCOL.md "Column Mapping"); the Delta export bridge
    * translates these entries into `delta.columnMapping.physicalName`
    * field metadata so a rename mirrors as a metadata-only commit. */
  private[graft] val ColMapPrefix = "graft.colmap."

  /** Hidden physical row-id column of row-tracked tables (see the
    * row-tracking contract in the class scaladoc); also the Delta
    * mirror's materialized row-id column name. */
  private[graft] val RowIdCol = "_graft_row_id"
  private[graft] val GeneratedColPrefix = "graft.generatedCol."
  private[graft] val IdentitySpecPrefix = "graft.identityCol."
  private[graft] val IdentityHwmPrefix = "graft.identityHwm."

  /** Declared clustering columns (`graft.clusterBy = a,b` — LOGICAL
    * names, rekeyed by renames like the skipping metadata). Set by
    * [[GraftTable.clusterBy]]; mirrored by the Delta export bridge as
    * `delta.clustering` domain metadata (delta.io PROTOCOL.md
    * "Clustered Table") with physical names. */
  private[graft] val ClusterByProp = "graft.clusterBy"
  /** Column-default declarations: `graft.default.<logical name>` → the
    * original DEFAULT SQL (Delta's CURRENT_DEFAULT contract). */
  private[graft] val DefaultPrefix = "graft.default."

  /** The set of LOGICAL column names stats are collected for, or None for
    * "all" (the default). `delta.dataSkippingStatsColumns` (explicit
    * comma list) wins over `delta.dataSkippingNumIndexedCols` (first N
    * schema columns in declaration order — Delta's own fallback rule). */
  private[graft] def allowedStatsCols(props: Map[String, String],
      schemaCols: Seq[String]): Option[Set[String]] =
    props.get("delta.dataSkippingStatsColumns") match {
      case Some(list) =>
        Some(list.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      case None => props.get("delta.dataSkippingNumIndexedCols").map(n =>
        schemaCols.take(n.toInt).toSet)
    }

  /** The clustering columns a property map declares (logical names). */
  private[graft] def clusterColsOf(props: Map[String, String]): Seq[String] =
    props.get(ClusterByProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** Type-widening history entries (`graft.typeChange.<physical> =
    * [{"fromType":..,"toType":..,"tableVersion":..}, ...]`) — appended by
    * [[GraftTable.widenColumnType]], keyed by the PHYSICAL column name
    * (like bloom sidecars, the history describes bytes on disk and must
    * survive renames). The Delta export bridge translates these into
    * `delta.typeChanges` field metadata + the `typeWidening` table
    * feature (delta.io PROTOCOL.md "Type Widening"). */
  private[graft] val TypeChangePrefix = "graft.typeChange."

  /** Delta primitive-type name of a Spark type (PROTOCOL.md's spelling —
    * notably `integer`, not Spark's `int`). */
  private[graft] def deltaTypeName(dt: DataType): String = dt match {
    case org.apache.spark.sql.types.IntegerType => "integer"
    case d: org.apache.spark.sql.types.DecimalType =>
      s"decimal(${d.precision},${d.scale})"
    case other => other.typeName
  }

  /** Delta typeWidening's allowed conversion set (PROTOCOL.md "Type
    * Widening"): every pair is value-preserving AND supported natively by
    * Spark 4's parquet readers, so old files keep their narrow physical
    * type and the scan widens — the whole point of a metadata-only type
    * change. Decimal growth must not lose integer digits or scale;
    * integer→decimal needs the full 10 (or 20 for long) integer digits.
    * date→timestampNTZ is in the Delta set but excluded here (no NTZ
    * write path to pair it with). */
  private[graft] def isWidening(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          (t.precision - t.scale) >= (f.precision - f.scale) &&
          t.precision > f.precision
      case (ByteType | ShortType | IntegerType, t: DecimalType) =>
        (t.precision - t.scale) >= 10
      case (LongType, t: DecimalType) => (t.precision - t.scale) >= 20
      case _ => false
    }
  }

  /** Order-preserving encoding of a byte string's first 6 bytes into a
    * Double (48 bits — exact in the 53-bit mantissa): unsigned
    * byte-lexicographic order on strings maps to numeric order on the
    * encodings, with absent bytes padding as 0 (the smallest byte). Lets
    * STRING min/max ride [[Commit.dirStats]]'s numeric map unchanged. */
  private[table] def stringPrefixValue(bytes: Array[Byte]): Double = {
    var v = 0L
    var i = 0
    while (i < 6) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
      i += 1
    }
    v.toDouble
  }

  /** Upper bound of [[stringPrefixValue]] over all strings that START WITH
    * `bytes`: absent bytes pad as 0xFF (the largest byte), so
    * [prefixValue(p), prefixHiValue(p)] covers the encoding of every
    * string with prefix p. */
  private[table] def stringPrefixHiValue(bytes: Array[Byte]): Double = {
    var v = 0L
    var i = 0
    while (i < 6) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0xffL)
      i += 1
    }
    v.toDouble
  }

  /** Properties a snapshot REWRITE should carry: everything except
    * tombstone-coverage bookkeeping, which dies with the tombstones the
    * rewrite materializes. */
  private[table] def rewriteProps(props: Map[String, String]): Map[String, String] =
    props.filterNot(_._1.startsWith(TombstoneCoverPrefix))

  private def hadoopConf(spark: SparkSession) =
    spark.sessionState.newHadoopConf()

  /** Open an existing table (`DeltaTable.forPath` analogue). */
  def forPath(spark: SparkSession, root: String): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.version >= 0, s"no graft table at $root")
    t
  }

  def isTable(spark: SparkSession, root: String): Boolean =
    // A table exists once its FIRST COMMIT is readable, not merely once the
    // log dir was mkdir'd: commit() creates the dir before the commit file
    // lands, and a concurrent isTable-then-forPath in that window must not
    // see a "table" forPath would then refuse to open.
    new CommitLog(root, hadoopConf(spark)).latest().isDefined

  /** The table at `root` when [[isTable]] holds, opened with one log
    * resolution (the isTable-then-forPath pair costs two). */
  def find(spark: SparkSession, root: String): Option[GraftTable] =
    Some(new GraftTable(spark, root)).filter(_.version >= 0)

  /** Create (S10/S12): first write wins the CREATE commit. Optional
    * hive-style partitioning: every later commit keeps it, and reads prune
    * partitions on matching filters. */
  def create(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): GraftTable =
    create(spark, root, df, partitionBy, Map.empty, Map.empty)

  /** Create with initial table PROPERTIES stamped atomically in commit 0 —
    * no window where the table exists without them (an index whose
    * geometry rides in properties must never be openable half-created). */
  def createWithProperties(spark: SparkSession, root: String, df: DataFrame,
      properties: Map[String, String],
      partitionBy: Seq[String] = Nil): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.version < 0, s"table already exists at $root")
    t.overwriteInternal(df, partitionBy, None, properties)
    t
  }

  /** Create with GENERATED and/or IDENTITY column declarations (Delta
    * parity: both are declared at table creation, never retrofitted).
    *
    *  - `generated`: col → SQL expression over the other columns
    *    (GENERATED ALWAYS AS). Writers that omit the column get it
    *    computed; writers that provide it are validated. The column is
    *    MATERIALIZED, so footer min/max stats prune on it like any other —
    *    the classic `event_date generated as date(ts)` partition/skipping
    *    pattern at 100 TB costs writers nothing.
    *  - `identity`: col → (start, step), step > 0 (GENERATED BY DEFAULT AS
    *    IDENTITY). Engine-assigned ids are unique and ascend across
    *    commits (per-task block reservation — no shuffle, no driver
    *    sequence bottleneck); gaps are normal, exactly as in Delta.
    *
    * A generated column may be listed in `partitionBy` (it is computed
    * before the write lays out partitions). */
  def create(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String],
      generated: Map[String, String],
      identity: Map[String, (Long, Long)]): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.version < 0, s"table already exists at $root")
    generated.keys.foreach(n => require(!identity.contains(n),
      s"column $n cannot be both generated and identity"))
    identity.foreach { case (n, (_, step)) =>
      require(step > 0, s"identity column $n: step must be positive (got $step)")
      // partition values live in dir paths, outside the footer stats the
      // high-watermark update reads — refuse the combination
      require(!partitionBy.contains(n),
        s"identity column $n cannot be a partition column")
      require(!df.columns.contains(n) ||
        df.schema(n).dataType == org.apache.spark.sql.types.LongType,
        s"identity column $n must be LONG, the frame provides ${df.schema(n).dataType}")
    }
    val declared =
      generated.map { case (n, e) => GeneratedColPrefix + n -> e } ++
        identity.map { case (n, (s, st)) => IdentitySpecPrefix + n -> s"$s,$st" }
    t.overwriteInternal(df, partitionBy, None, declared.toMap)
    t
  }

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA` analogue): upgrade a
    * plain-parquet directory into a graft table IN PLACE — no data copy.
    * The parquet files are RENAMED into the table's v0 data dir (a
    * metadata operation on a real filesystem), footer skipping stats are
    * harvested in the same pass every write uses, and commit 0
    * publishes. Legacy data gets versioning, time travel, data skipping
    * and the whole mutation surface the moment the commit lands —
    * without rewriting a byte of a 100 TB corpus. The v0 dir name is
    * DETERMINISTIC (`v00000-convert`) so a crash between renames and the
    * commit converges on re-run: remaining files join the already-moved
    * ones and one commit covers them all. Flat layouts only — a
    * hive-partitioned source keeps values in its paths, which a flat
    * rename would orphan; read+create those instead. */
  def convert(spark: SparkSession, root: String): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.version < 0, s"table already exists at $root")
    t.convertInPlace()
    t
  }

  /** CONVERT FROM DELTA: adopt a Delta table in place — live snapshot
    * files renamed (never copied) into the graft v0 data dir, schema /
    * partitioning / CHECK constraints carried over; see
    * [[GraftTable.convertFromDeltaInPlace]] for the exact contract and
    * refusals. The migration dual of [[convert]]: a delta-spark user
    * switches a 100 TB table to graft without rewriting a byte. */
  def convertFromDelta(spark: SparkSession, root: String): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.version < 0, s"graft table already exists at $root")
    t.convertFromDeltaInPlace()
    t
  }

  /** Open-or-create: the streaming first-batch path (spark_streaming.py:362-365). */
  def createIfNotExists(spark: SparkSession, root: String, df: => DataFrame): GraftTable =
    find(spark, root).getOrElse(create(spark, root, df))

  /** The data type at a (possibly dotted) leaf path of `schema`: exact
    * top-level names win (a column literally named "a.b" keeps working),
    * then the path walks nested structs — the footer-stats key space. */
  private[table] def leafType(schema: StructType, dotted: String)
      : Option[org.apache.spark.sql.types.DataType] =
    schema.find(_.name == dotted).map(_.dataType).orElse {
      dotted.split('.').toSeq.foldLeft(
        Option(schema: org.apache.spark.sql.types.DataType)) { (cur, p) =>
        cur.flatMap {
          case st: StructType => st.find(_.name == p).map(_.dataType)
          case _ => None
        }
      }
    }

  /** Align `df` to `schema`: missing columns become typed nulls, column
    * order follows `schema` (additive evolution, M6). */
  private[table] def alignTo(df: DataFrame, schema: StructType): DataFrame = {
    // Case-INSENSITIVE presence (Spark's default resolution): a frame
    // column differing only in case binds to the schema field — and takes
    // the schema's canonical spelling — rather than reading as absent.
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    df.select(schema.fields.toSeq.map { f =>
      present.get(f.name.toLowerCase) match {
        case Some(actual) => col(actual).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }
}
