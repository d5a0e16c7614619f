package graft.sources

import java.nio.charset.StandardCharsets
import java.time.Instant
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.table.{Commit, CommitLog, GraftTable}

/** Write-side Delta bridge — the inverse of [[DeltaImport]]: publishes a
  * Delta Lake transaction log (`_delta_log/`) INTO a graft table's root, so
  * the same directory is simultaneously a graft table and an open-format
  * Delta table (the dual-format idea Delta calls UniForm). Any Delta
  * reader — the reference's own stack
  * (consumer/python-consumer/delta_handler.py reads tables laid out exactly
  * like this, `deltalake/customers/_delta_log/<v>.json`), Spark+delta,
  * duckdb's delta extension — can then open the graft table in place,
  * with version-for-version time travel.
  *
  * Mapping: graft commit v ⇒ Delta commit v (same version numbers). Each
  * Delta commit carries the FILE-level diff of consecutive graft snapshots
  * (graft tracks immutable dirs; Delta tracks files — a dir's parquet files
  * become `add` actions, dirs dropped by a rewrite become `remove`s), a
  * `metaData` action whenever schema / partitioning / properties change,
  * `protocol` at v0, and `commitInfo` with the graft operation and metrics.
  * Action shapes mirror the reference's Delta-written logs byte-for-byte in
  * field structure (verified against
  * deltalake/customers/_delta_log/00000000000000000000.json).
  *
  * Per-file `stats` (numRecords / minValues / maxValues / nullCount, typed
  * JSON) are harvested from the parquet footers the write already produced
  * — no data scan — so a Delta reader data-skips over exported tables just
  * like over native ones.
  *
  * Merge-on-read deletes export as REAL Delta deletion vectors
  * ([[DeltaDeletionVectors]], reader 3 / writer 7 feature protocol,
  * upgraded in place at the first DV commit): the affected files re-enter
  * the log as remove+add carrying a `u`-storage descriptor whose bitmap
  * holds graft's recorded positions. CDF exports as `cdc` actions:
  * each commit's `_changes` rows are rewritten stamp-free (Delta derives
  * `_commit_version`/`_commit_timestamp` from the commit) under
  * `_change_data/`, and `delta.enableChangeDataFeed` is advertised — a
  * Delta reader's load_cdf round-trips the graft change feed.
  *
  * Value-tombstone MoR state is a predicate over row VALUES — no Delta
  * action encodes it — so tombstone-carrying versions MATERIALIZE at
  * mirror time: the covered dir prefix is rewritten once (tombstones +
  * DVs applied) under a content-keyed `_delta_materialized/` dir the
  * Delta commit adds in place of the covered files; appends past the
  * covers stay incremental and reuse the materialization. The mirror
  * never stalls, and the Delta snapshot equals the graft snapshot at
  * every version.
  *
  * Scale: export is a driver-side metadata fold (one file listing per
  * immutable data dir, footer reads for new files only) — the cost class
  * of a Delta writer's own commit path. The exceptions are bounded and
  * per-changed-version only: one distributed bitmap build over the dv
  * dirs of a DV-changing commit ([[buildMirrorDvs]] — positions fold into
  * RoaringBitmaps on executors, only per-file descriptors reach the
  * driver), one rewrite job over the `_changes` rows of a
  * CDF-carrying commit, and one covered-prefix rewrite per DISTINCT
  * value-tombstone state (the same job graft's own optimize() remedy
  * would run, executed lazily on the mirror side).
  */
object DeltaExport {

  private implicit val formats: Formats = DefaultFormats

  /** Highest graft version exportable as a contiguous Delta log prefix —
    * every version: positional deletes export as real Delta DVs, and
    * value-tombstone MoR versions auto-materialize their covered prefix
    * (see [[exportLog]]), so the mirror never stalls. */
  def exportableUpTo(table: GraftTable): Long = {
    val cs = new CommitLog(table.root, table.spark.sessionState.newHadoopConf()).commits()
    cs.lastOption.map(_.version).getOrElse(-1L)
  }

  /** Publish `_delta_log` commits for graft versions [0, upTo] (default:
    * table head). Idempotent and incremental: already-published versions
    * are skipped (content is deterministic per version), so calling after
    * each graft commit appends exactly one Delta commit. Returns the
    * highest Delta version published.
    */
  def exportLog(table: GraftTable, upTo: Option[Long] = None): Long = {
    val spark = table.spark
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(table.root)
    val fs = root.getFileSystem(conf)
    val commits = new CommitLog(table.root, conf).commits()
    require(commits.nonEmpty, s"${table.root}: empty table, nothing to export")
    val target = upTo.getOrElse(commits.last.version)

    val logDir = new Path(root, "_delta_log")
    if (!fs.exists(logDir)) fs.mkdirs(logDir)

    // Immutable dirs ⇒ one listing per dir across all versions.
    val dirFiles = scala.collection.mutable.HashMap.empty[String, Seq[FileStatus]]
    def filesOf(dir: String): Seq[FileStatus] =
      dirFiles.getOrElseUpdate(dir, {
        val it = fs.listFiles(new Path(root, dir), true)
        val b = Seq.newBuilder[FileStatus]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) b += st
        }
        b.result().sortBy(_.getPath.toString)
      })

    def relPath(st: FileStatus): String = {
      val full = st.getPath.toUri.getPath
      val base = root.toUri.getPath.stripSuffix("/")
      full.stripPrefix(base).stripPrefix("/")
    }

    val tableId = java.util.UUID.nameUUIDFromBytes(
      ("graft:" + root.toUri.getPath).getBytes(StandardCharsets.UTF_8)).toString

    var published = DeltaImport.latestVersion(spark, table.root)
    // Nothing pending: answer from the listing alone — the per-batch
    // mirror call on an untouched table must cost one log listing, not a
    // snapshot resolution. Capped at `target`: the caller asked for that
    // prefix, and it exists.
    if (!commits.exists(c => c.version > published && c.version <= target))
      return math.min(published, target)

    // Resume point: the published log's own latest state. Reading it back
    // through [[DeltaImport.snapshot]] (checkpoint + JSON tail) makes the
    // resume O(tail) once checkpoints exist, and survives BOTH Delta log
    // cleanup below a checkpoint AND graft VACUUM of superseded dirs —
    // already-published versions are never re-derived from data dirs that
    // may no longer exist. The snapshot also recovers each file's exported
    // DV descriptor and whether the protocol already advertises the
    // deletionVectors feature.
    val resumeSnap =
      if (published < 0) None
      else Some(DeltaImport.snapshot(spark, table.root, Some(published)))
    var prevPaths: Set[String] =
      resumeSnap.map(_.files.map(f => decodePath(f.path)).toSet).getOrElse(Set.empty)
    var prevDv: Map[String, DeltaDeletionVectors.Descriptor] =
      resumeSnap.map(_.files.flatMap(f =>
        f.deletionVector.map(decodePath(f.path) -> _)).toMap).getOrElse(Map.empty)
    var dvAdvertised = resumeSnap.exists(_.protocol.exists(
      _.readerFeatures.contains("deletionVectors")))
    // Resuming over a log written by a pre-CDF exporter: its published
    // metaData never advertised `delta.enableChangeDataFeed` (the key is
    // injected at export, never present in graft commit properties, so
    // the metaChanged comparison below can't catch it) and its protocol
    // may predate cdc actions — re-emit both with the FIRST new commit,
    // else new change data lands in a feed CDF readers silently ignore.
    var cdfUpgrade = resumeSnap.exists(s =>
      !s.configuration.get("delta.enableChangeDataFeed").contains("true"))
    val resumeCdfCapable = resumeSnap.flatMap(_.protocol).exists(p =>
      if (p.minWriterVersion >= 7) p.writerFeatures.contains("changeDataFeed")
      else p.minWriterVersion >= 4)
    // Column mapping (`delta.columnMapping.mode=name`): activated by the
    // first graft metadata-only rename and STICKY thereafter (Delta has no
    // un-map path) — once the published metaData carries physical names,
    // every later metaData must too. Field ids are assigned once per
    // physical name, monotonically, and recovered on resume from the
    // published schema's own metadata (delta-spark's upgrade behavior).
    var mappingOn = resumeSnap.exists(
      _.configuration.get("delta.columnMapping.mode").contains("name"))
    // v2-checkpoint policy: a spec-strict reader requires the
    // `v2Checkpoint` reader feature BEFORE it may honor v2 checkpoint
    // files, so a table under the policy advertises it in the protocol
    // (sticky once advertised, like every feature).
    var v2Advertised = resumeSnap.flatMap(_.protocol).exists(
      _.readerFeatures.contains("v2Checkpoint"))
    // Type widening: activated by the first graft WIDEN COLUMN commit and
    // sticky thereafter — files with narrow physical types persist
    // indefinitely, so the reader feature can never be dropped.
    var twAdvertised = resumeSnap.flatMap(_.protocol).exists(
      _.readerFeatures.contains("typeWidening"))
    // In-commit timestamps (`delta.enableInCommitTimestamps`): graft's
    // tsMs is already crash-safe COMMIT state (never file mtime), so the
    // mirror can honor Delta's ICT contract exactly — the timestamp rides
    // in commitInfo.inCommitTimestamp, strictly increasing. On resume the
    // monotonicity floor recovers from the last published commitInfo
    // (0 if the JSON was log-cleaned: a checkpoint-only resume re-anchors
    // on tsMs, which graft's own adjusted-timestamp travel also does).
    var ictAdvertised = resumeSnap.flatMap(_.protocol).exists(
      _.writerFeatures.contains("inCommitTimestamp"))
    // Column defaults: writer-gated; the first SET DEFAULT raises the
    // protocol in place so the metaData carrying CURRENT_DEFAULT never
    // precedes its feature advertisement.
    var defAdvertised = resumeSnap.flatMap(_.protocol).exists(
      _.writerFeatures.contains("allowColumnDefaults"))
    // Clustering: the declaration is STATE (domain metadata), re-emitted
    // only when it changes; the feature advertisement is sticky.
    var clusterAdvertised = resumeSnap.flatMap(_.protocol).exists(
      _.writerFeatures.contains("clustering"))
    var prevClusterCfg: Option[String] =
      resumeSnap.flatMap(_.domainMetadata.get("delta.clustering"))
    var ictEnable: Option[(Long, Long)] = resumeSnap.flatMap(s =>
      s.configuration.get("delta.inCommitTimestampEnablementVersion")
        .zip(s.configuration.get("delta.inCommitTimestampEnablementTimestamp"))
        .map { case (v, t) => (v.toLong, t.toLong) })
    var lastIct: Long =
      if (published < 0L) 0L
      else {
        val p = new Path(logDir, f"$published%020d.json")
        if (!fs.exists(p)) 0L
        else {
          val in = fs.open(p)
          val ls = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toArray finally in.close()
          ls.iterator.filter(_.trim.nonEmpty)
            .map(l => JsonMethods.parse(l) \ "commitInfo" \ "inCommitTimestamp")
            .collectFirst {
              case JInt(t) => t.toLong
              case JLong(t) => t
            }.getOrElse(0L)
        }
      }
    var mappingAdvertised = resumeSnap.flatMap(_.protocol).exists(p =>
      p.readerFeatures.contains("columnMapping") ||
        (p.minReaderVersion >= 2 && mappingOn))
    var colIds: Map[String, Int] = resumeSnap.map(_.schema.fields.toSeq.flatMap {
      f =>
        if (f.metadata.contains("delta.columnMapping.id") &&
            f.metadata.contains("delta.columnMapping.physicalName"))
          Some(f.metadata.getString("delta.columnMapping.physicalName") ->
            f.metadata.getLong("delta.columnMapping.id").toInt)
        else None
    }.toMap).getOrElse(Map.empty)
    var maxColId: Int = (0 +: colIds.values.toSeq).max
    var prevDvDirs: Seq[String] =
      commits.find(_.version == published).map(_.dvDirs).getOrElse(Nil)
    var prevMeta: Option[(String, Seq[String], Map[String, String])] =
      commits.find(_.version == published)
        .map(c => (c.schemaJson, c.partitionCols, c.properties))

    val rootPathStr = root.toUri.getPath.stripSuffix("/")
    def relOfAbsolute(abs: String): String = {
      val p = try Option(new java.net.URI(abs).getPath).getOrElse(abs)
        catch { case scala.util.control.NonFatal(_) => abs }
      p.stripPrefix(rootPathStr).stripPrefix("/")
    }
    // Graft's cumulative DV state stays DISTRIBUTED: the driver only ever
    // sees which FILES carry positions (filesNamedIn below) and the built
    // descriptors ([[buildMirrorDvs]]); the positions themselves shuffle
    // straight into executor-side bitmaps.
    def filesNamedIn(dirs: Seq[String]): Set[String] =
      if (dirs.isEmpty) Set.empty
      else spark.read.parquet(dirs.map(d => new Path(root, d).toString): _*)
        .select("file").distinct().collect()
        .map(r => relOfAbsolute(r.getString(0))).toSet

    // Value-tombstone MoR state is a predicate over row VALUES — no Delta
    // action encodes it. Rather than halt the mirror, the covered prefix
    // (the dirs at least one tombstone applies to; appends past every
    // cover are untouched) is MATERIALIZED: rewritten once, tombstones
    // and DVs applied, under a content-keyed dir the Delta commit adds in
    // place of the covered files. The key hashes exactly the inputs of
    // the rewrite, so consecutive commits that only append (the common
    // stream shape: tombstones persist until a rewrite clears them) REUSE
    // the materialization and stay incremental — one rewrite per distinct
    // MoR state, not per version.
    def materializedPrefix(c: Commit, covered: Int): String = {
      val keySrc = (c.dataDirs.take(covered) ++ c.tombstoneDirs ++ c.dvDirs ++
        c.tombstoneDirs.map(t =>
          c.properties.getOrElse(GraftTable.TombstoneCoverPrefix + t, "")))
        .mkString("\n")
      val key = java.util.UUID.nameUUIDFromBytes(
        keySrc.getBytes(StandardCharsets.UTF_8)).toString
      val rel = s"_delta_materialized/$key"
      val dest = new Path(root, rel)
      if (!fs.exists(dest)) {
        val stage = new Path(root, s".mat-stage-${java.util.UUID.randomUUID()}")
        // Materialized files carry PHYSICAL names like every other data
        // file (readMorPrefix returns logical; the rename is mapping-
        // invariant — physical names are birth-stable — so the
        // content-keyed dir stays deterministic across renames).
        val mat = colMapOfProps(c.properties)
          .filter { case (lg, ph) => lg != ph }
          .foldLeft(table.readMorPrefix(c.version, covered)) {
            case (d, (lg, ph)) => d.withColumnRenamed(lg, ph) }
        val w = mat.write.mode("overwrite")
        (if (c.partitionCols.nonEmpty) w.partitionBy(c.partitionCols: _*) else w)
          .parquet(stage.toString)
        if (!fs.rename(stage, dest)) {
          fs.delete(stage, true)
          // lost a race: the winner wrote the same deterministic content
          if (!fs.exists(dest)) throw new java.io.IOException(s"cannot publish $dest")
        }
      }
      rel
    }

    // ---- row tracking (tracked-from-birth tables): replicate the graft
    // id fold so the mirror's baseRowIds equal graft's derived ids. Dir
    // ranges advance by the RECORDED footer row counts (no file access —
    // vacuumed history folds fine); per-file bases are computed only for
    // dirs being exported now (their files exist), path-sorted exactly
    // like graft's derivation. Re-adds (DV updates) preserve the original
    // base/version, recovered from the resume snapshot when mid-log.
    val rtActive = rowTrackingOn(commits.head.properties)
    var rowHigh = 0L
    val rtDirSeen = scala.collection.mutable.HashSet.empty[String]
    val fileRowBase = scala.collection.mutable.HashMap.empty[String, Long]
    val fileRowVer = scala.collection.mutable.HashMap.empty[String, Long]
    var rtAdvertised = resumeSnap.flatMap(_.protocol)
      .exists(_.writerFeatures.contains("rowTracking"))
    if (rtActive) {
      resumeSnap.foreach(_.files.foreach { f =>
        val rel = decodePath(f.path)
        f.baseRowId.foreach(fileRowBase(rel) = _)
        f.defaultRowCommitVersion.foreach(fileRowVer(rel) = _)
      })
    }
    def footerRows(st: FileStatus): Long = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import scala.jdk.CollectionConverters._
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }
    def allocateRowIds(c: Commit, listFiles: Boolean): Unit =
      c.dataDirs.foreach { d =>
        if (!rtDirSeen.contains(d)) {
          rtDirSeen += d
          val rows = c.dirNulls.get(d).flatMap(_.get("")).filter(_ >= 0L)
            .getOrElse(throw new IllegalStateException(
              s"row-tracking export of ${table.root}: version ${c.version} " +
                s"did not record the row count of $d"))
          if (listFiles) {
            var base = rowHigh
            filesOf(d).foreach { st =>
              val rel = relPath(st)
              fileRowBase(rel) = base
              fileRowVer(rel) = c.version
              base += footerRows(st)
            }
            require(base - rowHigh == rows,
              s"row-tracking export of ${table.root}: footer rows of $d " +
                s"(${base - rowHigh}) differ from the recorded count ($rows)")
          }
          rowHigh += rows
        }
      }
    if (rtActive)
      commits.takeWhile(_.version <= published).foreach(allocateRowIds(_, listFiles = false))

    // Replay must be CONTIGUOUS: a truncated graft log (DROP FEATURE …
    // TRUNCATE HISTORY) whose cut removed commits the mirror never saw
    // cannot be mirrored — the missing versions' file changes would be
    // silently skipped. Export before truncating (the drop operation
    // itself survives the cut, so the normal mirror cadence is safe).
    commits.dropWhile(_.version <= published).headOption.foreach { first =>
      require(first.version == (if (published < 0) 0L else published + 1),
        s"${table.root}: commit log starts at v${first.version} but the " +
          s"mirror is at v$published — history was truncated past the " +
          "mirror; export before truncating (a Delta log cannot start " +
          "mid-history without the removed versions)")
    }
    commits.dropWhile(_.version <= published)
      .takeWhile(_.version <= target).foreach { c =>
      val out = new Path(logDir, f"${c.version}%020d.json")
      // Value-tombstone MoR materialization rewrites the covered prefix
      // under export-owned dirs the graft id fold cannot see — the mirror
      // would diverge from graft's ids. Positional (DV) deletes are fully
      // supported; value-form MoR state must be materialized graft-side
      // first (the same precondition optimizeWhere states).
      if (rtActive) require(c.tombstoneDirs.isEmpty,
        s"row-tracking export of ${table.root}: version ${c.version} carries " +
          "value-tombstone MoR state — run materializeDeletes() before mirroring")
      val rowHighBefore = rowHigh
      if (rtActive) allocateRowIds(c, listFiles = true)
      val cur: Map[String, FileStatus] =
        if (c.tombstoneDirs.isEmpty)
          c.dataDirs.flatMap(d => filesOf(d).map(st => relPath(st) -> st)).toMap
        else {
          val full = c.dataDirs.length
          val covered = math.min(full, c.tombstoneDirs.map(t =>
            c.properties.get(GraftTable.TombstoneCoverPrefix + t)
              .map(_.toInt).getOrElse(full)).max)
          val matRel = materializedPrefix(c, covered)
          (filesOf(matRel) ++ c.dataDirs.drop(covered).flatMap(filesOf))
            .map(st => relPath(st) -> st).toMap
        }

      // Deletion-vector delta: when the commit's dv dirs changed, the
      // affected files re-enter the log as remove+add carrying their NEW
      // descriptor (Delta's own DV-update shape). Append-only growth (the
      // normal MoR delete) touches only files named in the new dirs; a
      // reset (purge / restore) recomputes every descriptor. Files inside
      // a materialized prefix are absent from `cur`, so their DV state
      // (already folded into the rewrite) drops out here by construction.
      val (curDv, dvChanged): (Map[String, DeltaDeletionVectors.Descriptor], Set[String]) =
        if (c.dvDirs.toSet == prevDvDirs.toSet)
          (prevDv.filter { case (k, _) => cur.contains(k) }, Set.empty[String])
        else {
          val stateKeys = filesNamedIn(c.dvDirs)
          val grewOnly = prevDvDirs.forall(c.dvDirs.contains)
          val candidates =
            if (grewOnly) filesNamedIn(c.dvDirs.filterNot(prevDvDirs.contains))
            else prevDv.keySet ++ stateKeys
          val changed = candidates.filter(cur.contains)
          val descs = buildMirrorDvs(spark, table.root,
            c.dvDirs.map(d => new Path(root, d).toString), rootPathStr,
            changed.intersect(stateKeys), s"v${c.version}")
          val next = (prevDv -- changed) ++ descs
          (next.filter { case (k, _) => cur.contains(k) },
            changed.filter(k => prevDv.get(k) != next.get(k)))
        }

      val newPaths = (cur.keySet -- prevPaths).toSeq.sorted
      val adds = (newPaths ++ dvChanged.filterNot(newPaths.contains)).distinct.sorted
      val removes = ((prevPaths -- cur.keySet) ++ dvChanged.filter(prevPaths)).toSeq.sorted
      val metaChanged = cdfUpgrade ||
        !prevMeta.contains((c.schemaJson, c.partitionCols, c.properties))
      val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
      val cmap = colMapOfProps(c.properties)
      if (cmap.nonEmpty) mappingOn = true
      // What the parquet files actually carry: with mapping on, stats and
      // footer matching run against PHYSICAL names (the Delta contract for
      // column-mapped tables — stats keys are physical).
      val physSchema =
        if (cmap.isEmpty) schema
        else StructType(schema.fields.map(f =>
          f.copy(name = cmap.getOrElse(f.name, f.name))))
      val ictOn = ictOnProps(c.properties)
      val ict: Option[Long] =
        if (!ictOn) None
        else { val v = math.max(c.tsMs, lastIct + 1); lastIct = v; Some(v) }
      // Enabled after creation ⇒ the protocol requires the enablement
      // version/timestamp configs (readers must not trust pre-enablement
      // commitInfo timestamps); enabled at v0 needs none.
      if (ictOn && ictEnable.isEmpty && c.version > 0L)
        ictEnable = Some((c.version, ict.get))
      val lines = Seq.newBuilder[String]
      lines += commitInfoJson(c, ict)
      // Protocol emission, unified: v0 always; the first DV descriptor,
      // the first mapped metaData, and the resume-time CDF upgrade each
      // raise the protocol IN PLACE (Delta allows a protocol action in any
      // commit) — and a feature-listed protocol restates every gated
      // capability in play, so the lists compose.
      // DROP FEATURE maps to Delta's own publication form: a protocol
      // DOWNGRADE action in the drop commit (delta-spark emits exactly
      // this after its retention checks pass). The feature re-advertises
      // if a later commit writes DVs again — re-adding is legal.
      val dropDv = c.operation == "DROP FEATURE deletionVectors"
      val wantDv = curDv.nonEmpty || (dvAdvertised && !dropDv)
      val wantV2 = v2Advertised || spark.conf
        .getOption("spark.graft.delta.checkpointPolicy")
        .orElse(c.properties.get("delta.checkpointPolicy"))
        .contains("v2")
      val wantTw = twAdvertised ||
        c.properties.keys.exists(_.startsWith(GraftTable.TypeChangePrefix))
      val defaultsOn =
        c.properties.keys.exists(_.startsWith(GraftTable.DefaultPrefix))
      val needProto = c.version == 0L ||
        (dropDv && dvAdvertised) ||
        (curDv.nonEmpty && !dvAdvertised) ||
        (mappingOn && !mappingAdvertised) ||
        (wantV2 && !v2Advertised) ||
        (wantTw && !twAdvertised) ||
        (ictOn && !ictAdvertised) ||
        (defaultsOn && !defAdvertised) ||
        (rtActive && !rtAdvertised) ||
        (clusterByOn(c.properties) && !clusterAdvertised) ||
        (cdfUpgrade && !resumeCdfCapable)
      if (needProto) {
        val gated = (if (wantDv) Seq("deletionVectors") else Nil) ++
          (if (mappingOn) Seq("columnMapping") else Nil) ++
          (if (wantV2) Seq("v2Checkpoint") else Nil) ++
          (if (wantTw) Seq("typeWidening") else Nil)
        lines += (if (gated.nonEmpty) gatedProtocolJson(schema, c.properties, gated)
          else protocolJson(schema, c.properties))
        dvAdvertised = wantDv
        mappingAdvertised = mappingOn
        v2Advertised = wantV2
        twAdvertised = wantTw
        ictAdvertised = ictAdvertised || ictOn
        defAdvertised = defAdvertised || defaultsOn
        rtAdvertised = rtAdvertised || rtActive
        clusterAdvertised = clusterAdvertised || clusterByOn(c.properties)
      }
      cdfUpgrade = false
      if (metaChanged) {
        val mappingMeta =
          if (!mappingOn) None
          else {
            schema.fields.foreach { f =>
              val ph = cmap.getOrElse(f.name, f.name)
              if (!colIds.contains(ph)) { maxColId += 1; colIds += ph -> maxColId }
            }
            Some((cmap, colIds, maxColId))
          }
        // ICT enabled after creation: the enablement version/timestamp
        // configs ride every metaData from then on (readers must not
        // trust pre-enablement commitInfo timestamps).
        val cMeta = ictEnable match {
          case Some((v, t)) if ictOn => c.copy(properties = c.properties +
            ("delta.inCommitTimestampEnablementVersion" -> v.toString) +
            ("delta.inCommitTimestampEnablementTimestamp" -> t.toString))
          case _ => c
        }
        lines += metaDataJson(tableId, cMeta, firstTs = commits.head.tsMs, mappingMeta)
      }
      // Exactly-once stamps export as Delta `txn` actions (SetTransaction):
      // a Delta-side consumer sees the same appId→version watermark graft's
      // own appendOnce checks, and writeCheckpoint carries it forward.
      c.txnAppId.zip(c.txnBatchId).foreach { case (app, b) =>
        lines += JsonMethods.compact(JObject("txn" -> JObject(
          "appId" -> JString(app),
          "version" -> JLong(b),
          "lastUpdated" -> JLong(c.tsMs))))
      }
      // Row-tracking high-water mark: a domainMetadata action whenever new
      // ids were allocated (always at v0 of a tracked table).
      if (rtActive && (rowHigh > rowHighBefore || c.version == 0L)) {
        lines += JsonMethods.compact(JObject("domainMetadata" -> JObject(
          "domain" -> JString("delta.rowTracking"),
          "configuration" ->
            JString(s"""{"rowIdHighWaterMark":${rowHigh - 1}}"""),
          "removed" -> JBool(false))))
      }
      // Clustering declaration: emitted when it changes (CLUSTER BY /
      // CLUSTER BY NONE / a rename moving a clustered column's physical
      // name — impossible by construction, physical names are birth-
      // stable, but the compare is on the rendered config so it would
      // still be correct). A removal is Delta's tombstone form.
      val curClusterCfg = clusteringConfigOf(c.properties)
      if (curClusterCfg != prevClusterCfg && (curClusterCfg.nonEmpty ||
          prevClusterCfg.nonEmpty)) {
        lines += JsonMethods.compact(JObject("domainMetadata" -> JObject(
          "domain" -> JString("delta.clustering"),
          "configuration" -> JString(curClusterCfg.getOrElse("{}")),
          "removed" -> JBool(curClusterCfg.isEmpty))))
        prevClusterCfg = curClusterCfg
      }
      val dataChange = c.operation != "OPTIMIZE"
      // OPTIMIZE on a clustered table is the clustering pass ([[GraftTable
      // .optimize]] Z-orders on the declared columns) — its adds carry the
      // provider stamp delta-spark writes on clustered files.
      val clusterProvider =
        if (c.operation == "OPTIMIZE" && clusterByOn(c.properties))
          Some("liquidClustering")
        else None
      // Stats-column budget (delta.dataSkippingStatsColumns /
      // NumIndexedCols): the mirror's per-add stats JSON honors the same
      // write-time trim as graft's own dirStats — on a wide table the
      // stats blob, not the file list, dominates log bytes.
      val allowedStats = GraftTable.allowedStatsCols(c.properties,
          schema.fieldNames.toSeq)
        .map(_.map(n => cmap.getOrElse(n, n)))
      adds.foreach { p =>
        lines += addJson(p, cur(p), physSchema, c.partitionCols, dataChange, conf,
          curDv.get(p),
          if (rtActive) fileRowBase.get(p) else None,
          if (rtActive) fileRowVer.get(p) else None,
          clusterProvider, allowedStats)
      }
      removes.foreach { p =>
        val dvField = prevDv.get(p).map(d => "deletionVector" -> dvJson(d)).toList
        lines += JsonMethods.compact(JObject("remove" -> JObject(List(
          "path" -> (JString(encodePath(p)): JValue),
          "deletionTimestamp" -> (JLong(c.tsMs): JValue),
          "dataChange" -> (JBool(dataChange): JValue)) ++ dvField: _*)))
      }

      // Change Data Feed: a commit with recorded CDF rows exports them as
      // Delta `cdc` actions — stamp-free parquet under `_change_data/`
      // (Delta derives `_commit_version`/`_commit_timestamp` from the
      // commit itself), partitioned like the table. Append commits carry
      // no cdc action; CDF readers derive their inserts from the adds,
      // as Delta specifies for blind appends.
      val changesRel = c.changesDir.getOrElse(f"_changes/v${c.version}%05d")
      if (fs.exists(new Path(root, changesRel))) {
        val cdcRel = f"_change_data/v${c.version}%020d"
        val cdcPath = new Path(root, cdcRel)
        if (!fs.exists(cdcPath)) {
          val stage = new Path(root,
            s".cdc-stage-${java.util.UUID.randomUUID()}")
          val df = spark.read.parquet(new Path(root, changesRel).toString)
            .drop("_commit_version", "_commit_timestamp")
          val w = df.write.mode("overwrite")
          (if (c.partitionCols.nonEmpty) w.partitionBy(c.partitionCols: _*) else w)
            .parquet(stage.toString)
          if (!fs.rename(stage, cdcPath)) {
            fs.delete(stage, true)
            if (!fs.exists(cdcPath))
              throw new java.io.IOException(s"cannot publish $cdcPath")
          }
        }
        filesOf(cdcRel).foreach { st =>
          lines += cdcJson(relPath(st), st, c.partitionCols)
        }
      }

      writeAtomic(fs, logDir, out, lines.result().mkString("", "\n", "\n"))
      prevPaths = cur.keySet
      prevDv = curDv
      prevDvDirs = c.dvDirs
      published = c.version
      prevMeta = Some((c.schemaJson, c.partitionCols, c.properties))
    }
    published
  }

  private def decodePath(s: String): String =
    try Option(new java.net.URI(s).getPath).getOrElse(s)
    catch { case scala.util.control.NonFatal(_) => s }

  /** Write a classic parquet checkpoint for ANY readable Delta log (an
    * exported graft table or a foreign Delta table) at its latest —
    * or a pinned — version, plus the `_last_checkpoint` marker. After
    * this, a cold open costs one parquet read + the JSON tail instead of
    * a full JSON replay, and log-cleaned histories below the checkpoint
    * stay readable.
    *
    * Protocol-complete per the published checkpoint spec, so foreign
    * Delta readers (not just [[DeltaImport]]) can consume it:
    *  - one `add` row per live file with the REQUIRED size /
    *    modificationTime / dataChange(=false) fields plus stats;
    *  - `metaData` with format/provider; `protocol` VERBATIM from the
    *    snapshot (weakening a feature-gated table's demands would invite
    *    a later writer to corrupt it);
    *  - unexpired `remove` tombstones (VACUUM bookkeeping) and `txn`
    *    appId watermarks (streaming exactly-once), reconstructed from the
    *    retained JSON tail and carried over from the prior checkpoint. */
  def writeCheckpoint(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): Long = {
    import org.apache.spark.sql.Row
    val s = DeltaImport.snapshot(spark, tablePath, versionAsOf)
    val conf = spark.sessionState.newHadoopConf()
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(conf)

    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType,
        valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvT),
      StructField("baseRowId", LongType),
      StructField("defaultRowCommitVersion", LongType)))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType,
        valueContainsNull = true))))
    val protoT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val removeT = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType),
      StructField("deletionVector", dvT)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val domainT = StructType(Seq(
      StructField("domain", StringType),
      StructField("configuration", StringType),
      StructField("removed", BooleanType)))
    val ckptT = StructType(Seq(
      StructField("add", addT), StructField("metaData", metaT),
      StructField("protocol", protoT), StructField("remove", removeT),
      StructField("txn", txnT), StructField("domainMetadata", domainT)))

    // Tombstones + txn watermarks: prior checkpoint first (history the
    // JSON cleanup may have eaten), then ONLY the JSON tail after it —
    // the prior checkpoint already folded everything below its version,
    // so a mirror that checkpoints every N commits pays O(N) here, not
    // O(table age).
    // path -> (deletionTimestamp, DV the removed add carried) — the DV
    // rides so VACUUM's tombstone rule can protect the bitmap file too
    // after the JSON that recorded the remove is cleaned up.
    var tomb = Map.empty[String, (Long, Option[DeltaDeletionVectors.Descriptor])]
    var txns = Map.empty[String, Long] // appId -> version
    var priorVersion = -1L
    DeltaImport.lastCheckpoint(spark, tablePath, Some(s.version)).foreach {
      case (pv, parts) =>
        priorVersion = pv
        val prior = spark.read.parquet(parts.map(_.toString): _*)
        val cols = prior.columns.toSet
        if (cols.contains("remove")) {
          val removeFields = prior.schema("remove").dataType
            .asInstanceOf[StructType].fieldNames.toSet
          val hasDv = removeFields.contains("deletionVector")
          // Leaf fields by NAME — the protocol fixes field names, not
          // struct field ORDER, and a foreign engine's checkpoint may
          // order the descriptor differently.
          val base = prior.select(Seq(col("remove.path"),
            col("remove.deletionTimestamp")) ++
            (if (hasDv) Seq(
              col("remove.deletionVector.storageType"),
              col("remove.deletionVector.pathOrInlineDv"),
              col("remove.deletionVector.offset").cast("int"),
              col("remove.deletionVector.sizeInBytes").cast("int"),
              col("remove.deletionVector.cardinality").cast("long"))
            else Nil): _*)
          base.filter(col("path").isNotNull).collect().foreach { r =>
            val dv = if (hasDv && !r.isNullAt(2))
              Some(DeltaDeletionVectors.Descriptor(r.getString(2),
                r.getString(3),
                if (r.isNullAt(4)) None else Some(r.getInt(4)),
                r.getInt(5), r.getLong(6)))
            else None
            tomb += r.getString(0) ->
              ((if (r.isNullAt(1)) 0L else r.getLong(1), dv))
          }
        }
        if (cols.contains("txn"))
          prior.select(col("txn.appId"), col("txn.version"))
            .filter(col("appId").isNotNull).collect()
            .foreach(r => txns += r.getString(0) ->
              (if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    DeltaImport.changesBetween(spark, tablePath, priorVersion, s.version).foreach { vc =>
      vc.allRemoves.foreach(r =>
        tomb += r.path -> ((vc.timestampMs, r.deletionVector)))
      vc.txns.foreach { case (app, v) => txns += app -> v }
    }
    // Tombstones expire after the deleted-file retention window (Delta's
    // checkpoint convention — delta.deletedFileRetentionDuration, default
    // 7 days): without expiry the carried-forward set grows monotonically
    // for the life of the table.
    val retentionMs = spark.conf
      .getOption("spark.graft.delta.deletedFileRetentionMs")
      .map(_.toLong).getOrElse(7L * 24 * 3600 * 1000)
    val horizon = System.currentTimeMillis() - retentionMs
    val live = s.files.map(_.path).toSet
    val tombstones: Seq[(String, Long, Option[DeltaDeletionVectors.Descriptor])] =
      tomb
        .filterNot { case (p, _) => live(p) }
        .filter { case (_, (ts, _)) => ts >= horizon }
        .toSeq.map { case (p, (ts, dv)) => (p, ts, dv) }.sortBy(_._1)

    val proto = s.protocol.getOrElse(
      if (hasNtz(s.schema))
        DeltaImport.Protocol(3, 7, Seq("timestampNtz"), Seq("timestampNtz"))
      else DeltaImport.Protocol(1, 2, Nil, Nil))
    def featsOrNull(fs: Seq[String]) = if (fs.isEmpty) null else fs
    // size/modificationTime are REQUIRED add fields; entries that came in
    // through a pre-upgrade checkpoint (which lacked the columns) carry
    // the 0L defaults — backfill from a live stat rather than persist a
    // wrong value foreign planners would trust.
    def statted(f: DeltaImport.AddFile): DeltaImport.AddFile =
      if (f.size > 0L) f
      else try {
        val st = fs.getFileStatus(DeltaImport.resolveFile(tablePath, f.path))
        f.copy(size = st.getLen, modificationTime = st.getModificationTime)
      } catch { case scala.util.control.NonFatal(_) => f }
    def dvRow(f: DeltaImport.AddFile): Row = f.deletionVector.map(d =>
      Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
        d.sizeInBytes, d.cardinality)).orNull
    val addRows: Seq[Row] = s.files.map(statted).map(f => Row(
      Row(f.path, f.partitionValues, f.size, f.modificationTime,
        false, f.stats.orNull, dvRow(f),
        f.baseRowId.map(Long.box).orNull,
        f.defaultRowCommitVersion.map(Long.box).orNull),
      null, null, null, null, null))
    val partRows = spark.conf
      .getOption("spark.graft.delta.checkpointPartRows")
      .map(_.toInt).getOrElse(50000)
    // V2 checkpoint policy (opt-in via the session conf or the mirrored
    // table's own `delta.checkpointPolicy=v2`): file actions land in
    // parquet SIDECARS under `_delta_log/_sidecars/`, the non-file
    // actions + sidecar pointers in a `<v>.checkpoint.<uuid>.json`
    // manifest — the layout engines on `delta.checkpointPolicy=v2`
    // produce and [[DeltaImport]] already reads (manifest + one batched
    // sidecar scan). No `_last_checkpoint` marker is written: V2
    // discovery is BY LISTING per the spec, and our own reader implements
    // exactly that rule.
    val policy = spark.conf.getOption("spark.graft.delta.checkpointPolicy")
      .orElse(s.configuration.get("delta.checkpointPolicy"))
    if (policy.contains("v2"))
      return writeV2Checkpoint(spark, fs, logDir, s, ckptT, addRows, proto,
        tombstones, txns, partRows)
    val rows: Seq[Row] =
      addRows ++
        Seq(Row(null, Row(s.tableId.getOrElse(java.util.UUID.nameUUIDFromBytes(
          ("graft:" + new Path(tablePath).toUri.getPath)
            .getBytes(StandardCharsets.UTF_8)).toString),
          Row("parquet", Map.empty[String, String]),
          s.schema.json, s.partitionColumns, s.configuration),
          null, null, null, null)) ++
        Seq(Row(null, null, Row(proto.minReaderVersion, proto.minWriterVersion,
          featsOrNull(proto.readerFeatures), featsOrNull(proto.writerFeatures)),
          null, null, null)) ++
        tombstones.map { case (p, ts, dv) =>
          Row(null, null, null, Row(p, ts, false,
            dv.map(d => Row(d.storageType, d.pathOrInlineDv,
              d.offset.map(Int.box).orNull, d.sizeInBytes,
              d.cardinality)).orNull), null, null) } ++
        txns.toSeq.sortBy(_._1).map { case (app, v) =>
          Row(null, null, null, null, Row(app, v), null) } ++
        s.domainMetadata.toSeq.sortBy(_._1).map { case (d, cfg) =>
          Row(null, null, null, null, null, Row(d, cfg, false)) }

    // Publication order makes every window benign:
    //  1. the checkpoint part(s) land first, write-once (an existing part
    //     at this version is a previous valid checkpoint — kept, never
    //     deleted, so no reader ever observes a named-but-missing part);
    //  2. `_last_checkpoint` flips afterwards via temp + delete + rename.
    //     The marker is a HINT by protocol: a reader catching the gap
    //     (or a crash losing the marker entirely) falls back to the JSON
    //     replay / the previous marker, both correct. Plain FileSystem
    //     calls throughout — FileContext's OVERWRITE rename is itself
    //     delete-then-rename on local/object stores and throws on schemes
    //     without a registered AbstractFileSystem, a poor trade for a
    //     hint file.
    //
    // Past `spark.graft.delta.checkpointPartRows` actions (default 50k)
    // the checkpoint is MULTI-PART (the classic `v.checkpoint.i.n.parquet`
    // scheme `_last_checkpoint` advertises via "parts"): a single
    // coalesce(1) part over a million-file snapshot is a driver-and-
    // single-task bottleneck and a multi-GB object no reader can range-
    // split. Parts split round-robin — the checkpoint is an unordered
    // action set, any partition of it is valid.
    val existing = fs.globStatus(
      new Path(logDir, f"${s.version}%020d.checkpoint*.parquet"))
    var partsWritten = 0
    if (existing == null || existing.isEmpty) {
      val want = math.max(1, math.ceil(rows.size.toDouble / partRows).toInt)
      val stage = new Path(logDir, s".ckpt-stage-${java.util.UUID.randomUUID()}")
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), ckptT)
      (if (want == 1) df.coalesce(1) else df.repartition(want))
        .write.parquet(stage.toString)
      // empty round-robin partitions may write no file: the ACTUAL part
      // count names the files and rides the marker
      val staged = fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(staged.nonEmpty, s"no part written under $stage")
      val n = staged.length
      val targets =
        if (n == 1) Seq(new Path(logDir, f"${s.version}%020d.checkpoint.parquet"))
        else (1 to n).map(i => new Path(logDir,
          f"${s.version}%020d.checkpoint.$i%010d.$n%010d.parquet"))
      staged.zip(targets).foreach { case (part, target) =>
        if (!fs.rename(part, target) && !fs.exists(target))
          throw new java.io.IOException(s"cannot publish $target")
      }
      fs.delete(stage, true)
      partsWritten = n
    } else {
      // a previous/concurrent writer published this version — honor its
      // layout in the marker below
      val multi = existing.map(_.getPath.getName)
        .filter(_.matches(f"${s.version}%020d\\.checkpoint\\.\\d+\\.\\d+\\.parquet"))
      partsWritten = if (multi.isEmpty) 1
        else multi.head.split('.').takeRight(2).head.toInt
    }
    val partsField = if (partsWritten > 1) s""","parts":$partsWritten""" else ""
    val marker = new Path(logDir, s".lastckpt-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(marker, false)
    try out.write(s"""{"version":${s.version},"size":${rows.size}$partsField}"""
      .getBytes(StandardCharsets.UTF_8)) finally out.close()
    val markerTarget = new Path(logDir, "_last_checkpoint")
    if (fs.exists(markerTarget)) fs.delete(markerTarget, false)
    if (!fs.rename(marker, markerTarget)) {
      fs.delete(marker, false)
      if (!fs.exists(markerTarget))
        throw new java.io.IOException(s"cannot publish $markerTarget")
    }
    s.version
  }

  /** V2-checkpoint writer ([[writeCheckpoint]]'s `delta.checkpointPolicy
    * =v2` branch): sidecar parquet files carry the add actions (split at
    * `checkpointPartRows`, so a million-file snapshot is range-splittable
    * exactly like classic multi-part), the JSON manifest carries
    * protocol/metaData/txn/remove plus one `sidecar` pointer per file.
    * Sidecar names are content-addressed by (table, version, index) so a
    * re-run republishes identical names write-once; the manifest lands
    * last via the same atomic rename every log write uses — a reader
    * either sees a complete checkpoint or none. */
  private def writeV2Checkpoint(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, logDir: Path,
      s: DeltaImport.Snapshot, ckptT: StructType,
      addRows: Seq[org.apache.spark.sql.Row],
      proto: DeltaImport.Protocol,
      tombstones: Seq[(String, Long, Option[DeltaDeletionVectors.Descriptor])],
      txns: Map[String, Long], partRows: Int): Long = {
    import org.apache.spark.sql.Row
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"graft-v2ckpt:${s.tablePath}:${s.version}"
        .getBytes(StandardCharsets.UTF_8)).toString
    val manifest = new Path(logDir, f"${s.version}%020d.checkpoint.$uuid.json")
    if (fs.exists(manifest)) return s.version // already published (idempotent)
    val sidecarDir = new Path(logDir, "_sidecars")
    if (!fs.mkdirs(sidecarDir) && !fs.exists(sidecarDir))
      throw new java.io.IOException(s"cannot create $sidecarDir")
    // Sidecars: the add rows in the same struct-per-action shape the
    // classic parts use (the import's foldRows reads both identically —
    // and reads ALL sidecars in ONE parquet scan).
    val sidecarNames: Seq[String] =
      if (addRows.isEmpty) Nil
      else {
        val want = math.max(1, math.ceil(addRows.size.toDouble / partRows).toInt)
        val stage = new Path(logDir, s".ckpt-stage-${java.util.UUID.randomUUID()}")
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(addRows).asJava), ckptT)
        (if (want == 1) df.coalesce(1) else df.repartition(want))
          .write.parquet(stage.toString)
        val staged = fs.listStatus(stage).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        require(staged.nonEmpty, s"no sidecar written under $stage")
        val named = staged.zipWithIndex.map { case (part, i) =>
          val name = f"$uuid-$i%05d.parquet"
          val target = new Path(sidecarDir, name)
          if (!fs.rename(part, target) && !fs.exists(target))
            throw new java.io.IOException(s"cannot publish $target")
          name
        }
        fs.delete(stage, true)
        named.toSeq
      }
    def featsOrNone(fs0: Seq[String]): List[JField] =
      if (fs0.isEmpty) Nil
      else List("readerFeatures" ->
        (JArray(proto.readerFeatures.map(JString(_)).toList): JValue),
        "writerFeatures" ->
          (JArray(proto.writerFeatures.map(JString(_)).toList): JValue))
    val lines = Seq.newBuilder[String]
    lines += JsonMethods.compact(JObject("protocol" -> JObject(List(
      "minReaderVersion" -> (JInt(proto.minReaderVersion): JValue),
      "minWriterVersion" -> (JInt(proto.minWriterVersion): JValue)) ++
      featsOrNone(proto.readerFeatures ++ proto.writerFeatures): _*)))
    lines += JsonMethods.compact(JObject("metaData" -> JObject(
      "id" -> JString(s.tableId.getOrElse(java.util.UUID.nameUUIDFromBytes(
        ("graft:" + new Path(s.tablePath).toUri.getPath)
          .getBytes(StandardCharsets.UTF_8)).toString)),
      "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(s.schema.json),
      "partitionColumns" -> JArray(s.partitionColumns.map(JString(_)).toList),
      "configuration" -> JObject(s.configuration.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }: _*))))
    txns.toSeq.sortBy(_._1).foreach { case (app, v) =>
      lines += JsonMethods.compact(JObject("txn" -> JObject(
        "appId" -> JString(app), "version" -> JLong(v))))
    }
    s.domainMetadata.toSeq.sortBy(_._1).foreach { case (d, cfg) =>
      lines += JsonMethods.compact(JObject("domainMetadata" -> JObject(
        "domain" -> JString(d), "configuration" -> JString(cfg),
        "removed" -> JBool(false))))
    }
    tombstones.foreach { case (p, ts, dv) =>
      lines += JsonMethods.compact(JObject("remove" -> JObject(List(
        "path" -> (JString(p): JValue),
        "deletionTimestamp" -> (JLong(ts): JValue),
        "dataChange" -> (JBool(false): JValue)) ++
        dv.map(d => "deletionVector" -> dvJson(d)).toList: _*)))
    }
    sidecarNames.foreach { name =>
      val st = fs.getFileStatus(new Path(sidecarDir, name))
      lines += JsonMethods.compact(JObject("sidecar" -> JObject(
        "path" -> JString(name),
        "sizeInBytes" -> JLong(st.getLen),
        "modificationTime" -> JLong(st.getModificationTime))))
    }
    writeAtomic(fs, logDir, manifest, lines.result().mkString("", "\n", "\n"))
    s.version
  }

  /** Delta metadata cleanup (the log-retention counterpart of
    * `delta.logRetentionDuration`, default 30 days): deletes JSON commit
    * files STRICTLY BELOW the last checkpoint once older than the
    * retention — the checkpoint serves every read at or above its
    * version, so nothing readable is lost; time travel below the horizon
    * becomes honestly unavailable (the same contract as Delta's own
    * cleanup, and [[exportLog]]'s resume never relists cleaned history).
    * Returns the number of files deleted. */
  def cleanupLog(spark: SparkSession, tablePath: String,
      retentionMs: Long = 30L * 24 * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Int = {
    val ckptV = DeltaImport.latestCheckpointVersion(spark, tablePath)
      .getOrElse(return 0) // no checkpoint: everything is load-bearing
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val horizon = nowMs - retentionMs
    fs.listStatus(logDir).toSeq.count { st =>
      val n = st.getPath.getName
      val isCommit = n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit)
      isCommit &&
        n.stripSuffix(".json").toLong < ckptV &&
        st.getModificationTime < horizon &&
        fs.delete(st.getPath, false)
    }
  }

  /** Write a LOG COMPACTION file (`<from>.<to>.compacted.json`) — the
    * reconciled actions of commits [fromV, toV] in one object, per the
    * protocol's minor-compaction rule. Readers that replay a range
    * starting at `fromV` read ONE file instead of toV−fromV+1; the JSON
    * commits stay in place (compaction never licenses deletion — cleanup
    * below a checkpoint remains [[cleanupLog]]'s job). Reconciliation is
    * checkpoint-shaped, on the RAW lines so every field rides verbatim:
    * latest metaData/protocol in range; latest txn per appId; latest
    * domainMetadata per domain; live adds (a later add of a path
    * supersedes both earlier adds AND earlier removes of it — replay
    * order makes the add stand either way); removes kept unless a later
    * add supersedes them (they must expunge checkpoint-base state; a
    * remove of an in-range add survives as a harmless no-op tombstone).
    * cdc actions are replay-invisible (CDF reads stay per-version) and
    * are not carried. Returns the written path. */
  def writeLogCompaction(spark: SparkSession, tablePath: String,
      fromV: Long, toV: Long): Path = {
    require(toV > fromV && fromV >= 0, s"bad compaction range [$fromV, $toV]")
    val logDir = new Path(tablePath, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    var metaLine: Option[String] = None
    var protoLine: Option[String] = None
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val domains = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val removes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    (fromV to toV).foreach { v =>
      val p = new Path(logDir, f"$v%020d.json")
      require(fs.exists(p),
        s"$tablePath: cannot compact [$fromV, $toV] — version $v is missing")
      val in = fs.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toArray finally in.close()
      // per-commit order: removes first, then adds (the replay rule)
      val parsed = lines.filter(_.trim.nonEmpty)
        .map(l => l -> JsonMethods.parse(l))
      parsed.foreach { case (l, j) =>
        (j \ "remove" \ "path") match {
          case JString(path) =>
            adds.remove(path)
            removes(path) = l
          case _ => ()
        }
      }
      parsed.foreach { case (l, j) =>
        if ((j \ "metaData") != JNothing) metaLine = Some(l)
        if ((j \ "protocol") != JNothing) protoLine = Some(l)
        (j \ "txn" \ "appId") match {
          case JString(app) => txns(app) = l
          case _ => ()
        }
        (j \ "domainMetadata" \ "domain") match {
          case JString(d) => domains(d) = l
          case _ => ()
        }
        (j \ "add" \ "path") match {
          case JString(path) =>
            adds(path) = l
            removes.remove(path)
          case _ => ()
        }
      }
    }
    val out = protoLine.toSeq ++ metaLine.toSeq ++ txns.values ++
      domains.values ++ removes.values ++ adds.values
    val target = new Path(logDir, f"$fromV%020d.$toV%020d.compacted.json")
    val tmp = new Path(logDir,
      s".${target.getName}.tmp-${java.util.UUID.randomUUID()}")
    val os = fs.create(tmp, true)
    try os.write((out.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally os.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not publish log compaction $target")
    }
    target
  }

  /** Delta-side VACUUM of EXPORT-OWNED artifacts: deletes files under
    * `_delta_materialized/` (tombstone-materialization rewrites) and
    * `_change_data/` (exported cdc files) that are no longer part of the
    * CURRENT snapshot and are older than the retention window — without
    * this, a long-running mirror that takes value-tombstone deletes (each
    * distinct MoR state leaves a superseded materialization behind) or
    * maintains a change feed (cdc files accrete per commit) leaks disk
    * forever. Graft's own data/tombstone/dv dirs are NEVER touched here
    * ([[GraftTable.vacuum]] owns those); deleting an aged cdc file bounds
    * CDF availability to the retention window, exactly Delta VACUUM's
    * documented behavior. Returns the deleted paths. */
  def vacuumExportArtifacts(spark: SparkSession, tablePath: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val live: Set[String] =
      DeltaImport.snapshot(spark, tablePath).files.map(f => decodePath(f.path)).toSet
    val horizon = nowMs - retentionMs
    val rootPathStr = root.toUri.getPath.stripSuffix("/")
    val deleted = Seq.newBuilder[String]
    Seq("_delta_materialized", "_change_data").foreach { side =>
      val dir = new Path(root, side)
      if (fs.exists(dir)) {
        val it = fs.listFiles(dir, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile) {
            val rel = st.getPath.toUri.getPath
              .stripPrefix(rootPathStr).stripPrefix("/")
            if (!live(rel) && st.getModificationTime < horizon &&
                fs.delete(st.getPath, false))
              deleted += rel
          }
        }
        // reap dirs the sweep emptied (ignore failures: non-empty stays)
        fs.listStatus(dir).filter(_.isDirectory).foreach { d =>
          if (fs.listStatus(d.getPath).isEmpty) fs.delete(d.getPath, false)
        }
      }
    }
    // Abandoned staging dirs from crashed exporters (publication is
    // stage-then-rename; a crash between the two leaves the stage behind).
    // Age-gated like everything else — an exporter mid-publish is younger
    // than any sane retention.
    val logDir = new Path(root, "_delta_log")
    def sweepStages(dir: Path, prefixes: Seq[String]): Unit =
      if (fs.exists(dir)) fs.listStatus(dir).filter { st =>
        val n = st.getPath.getName
        st.getModificationTime < horizon && prefixes.exists(n.startsWith)
      }.foreach { st =>
        if (fs.delete(st.getPath, true))
          deleted += st.getPath.getName
      }
    sweepStages(root, Seq(".mat-stage-", ".cdc-stage-"))
    sweepStages(logDir, Seq(".ckpt-stage-", ".lastckpt-"))
    deleted.result()
  }

  /** Checkpoint-when-due: writes a checkpoint iff the JSON tail since the
    * last one has reached `every` commits (Delta's own cadence contract —
    * version PARITY tests fail when an operation commits several graft
    * versions per batch and the version number skips the multiple).
    * Returns the checkpointed version, or None when not due. */
  def maintainCheckpoint(spark: SparkSession, tablePath: String,
      every: Int = 10): Option[Long] = {
    val latest = DeltaImport.latestVersion(spark, tablePath)
    if (latest < 0) return None
    val last = DeltaImport.latestCheckpointVersion(spark, tablePath)
      .getOrElse(-1L)
    if (latest - last < every) None
    else Some(writeCheckpoint(spark, tablePath))
  }

  // ------------------------------------------- foreign commit publication

  /** TEST SEAM — invoked once per publish attempt, after the commit
    * content is durable in its tmp file and immediately before the
    * exclusive rename. Race specs use it to stage a RIVAL commit in the
    * window between snapshot read and publish (the window the optimistic
    * protocol must survive); production leaves it a no-op. */
  private[graft] var onBeforeForeignPublish: () => Unit = () => ()

  /** Same-JVM publish serialization, one lock per log directory.
    * `FileContext.rename(Rename.NONE)` is atomic WHERE THE FILESYSTEM
    * provides it (HDFS rename2; object-store LogStores), but the local
    * ChecksumFs implements the no-overwrite check as check-then-rename
    * of the data file and then the crc sidecar — two genuinely
    * concurrent same-JVM publishers could interleave those renames and
    * leave a committed `N.json` whose crc belongs to the rival (a
    * ChecksumException for every reader; caught by the writer-storm
    * spec). Local publication now goes through [[linkPublish]], whose
    * link(2) is atomic even cross-process and writes no crc at all; the
    * lock stays as the cheap first gate (it spares losers a doomed
    * kernel call) and as the only exclusion on local filesystems without
    * hard-link support, where [[linkPublish]] falls back to the rename
    * form. Cross-process exclusion elsewhere remains the FS primitive's
    * job, as in delta-spark's LogStores. */
  private val publishLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Publish `content` as log file `target` through an atomic
    * no-overwrite primitive — Delta's LogStore put-if-absent contract
    * (PROTOCOL.md requires mutual exclusion on `N.json`; delta-spark's
    * HDFSLogStore implements it as `FileContext.rename(…, Rename.NONE)`,
    * mirrored here for remote filesystems). A plain
    * `!fs.exists(target) && fs.rename(…)` is check-then-act: POSIX
    * rename(2) silently REPLACES an existing destination, so two racing
    * writers could both report success with the later one overwriting an
    * already-committed version. With Rename.NONE the loser gets
    * FileAlreadyExistsException, reaps its tmp, and the commit loop
    * re-resolves at N+1.
    *
    * On `file:` URIs Rename.NONE itself degrades to an exists-check
    * followed by rename(2) — atomic within this JVM only (the
    * [[publishLocks]] serialization), NOT across processes; that gap is
    * exactly delta-spark's documented LocalLogStore caveat
    * ("concurrent writes from multiple Spark drivers on a local
    * filesystem are not guaranteed to be mutually exclusive"). Local
    * publication therefore goes through [[linkPublish]] instead: POSIX
    * link(2) fails with EEXIST atomically in the KERNEL when the target
    * exists, which IS a true cross-process put-if-absent — two graft
    * writer JVMs racing the same local `_delta_log` exclude each other
    * for real (DeltaForeignCrossProcessStormSpec drives that). The
    * residual caveat is a rival NON-graft process (delta-spark itself on
    * file://) publishing through its non-atomic rename: it can clobber
    * anyone, including its own kind — nothing this side can close.
    * Returns true iff this writer owns version `target`. */
  private[sources] def publishExclusive(
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem, logDir: Path, target: Path,
      content: String): Boolean = {
    val tmp = new Path(logDir,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    onBeforeForeignPublish()
    val qualTarget = fs.makeQualified(target)
    val lock = publishLocks.computeIfAbsent(
      fs.makeQualified(logDir).toString, _ => new Object)
    val won = lock.synchronized {
      if (fs.exists(qualTarget)) false
      else if ("file" == qualTarget.toUri.getScheme)
        linkPublish(conf, fs, tmp, qualTarget)
      else renamePublish(conf, fs, tmp, qualTarget)
    }
    // Rename-won leaves no tmp behind (the rename consumed it); every
    // other outcome — loss, or a link-win whose extra name is now
    // redundant — reaps it, crc sidecar included.
    fs.delete(tmp, false)
    won
  }

  /** The HDFSLogStore shape: atomic where the filesystem's rename2 is. */
  private def renamePublish(conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem, tmp: Path,
      qualTarget: Path): Boolean = {
    val fc = org.apache.hadoop.fs.FileContext
      .getFileContext(qualTarget.toUri, conf)
    try {
      fc.rename(fs.makeQualified(tmp), qualTarget,
        org.apache.hadoop.fs.Options.Rename.NONE)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException
          if Option(e.getMessage).exists(_.contains("already exists")) =>
        false
    }
  }

  /** Local-FS put-if-absent via POSIX link(2): hard-linking the durable
    * tmp to the target raises EEXIST atomically in the kernel when the
    * target already exists — the no-overwrite primitive local
    * filesystems genuinely provide cross-process (rename(2) replaces
    * silently, O_EXCL create isn't stage-then-publish). The linked
    * target shares the tmp's inode, so the content is already durable
    * at publish time; it carries no crc sidecar, which ChecksumFs reads
    * as "unverified", not an error. Filesystems without hard links fall
    * back to the rename form (same-JVM exclusion still holds via
    * [[publishLocks]]). */
  private def linkPublish(conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem, tmp: Path,
      qualTarget: Path): Boolean = {
    import java.nio.file.{Files, Paths}
    try {
      Files.createLink(Paths.get(qualTarget.toUri.getPath),
        Paths.get(fs.makeQualified(tmp).toUri.getPath))
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: UnsupportedOperationException =>
        renamePublish(conf, fs, tmp, qualTarget)
      // FileSystemException (EPERM/ENOTSUP) is how link-incapable MOUNTS
      // fail (vfat/exfat, some NFS exports) when the provider itself
      // implements createLink — same degradation as the provider-level
      // UnsupportedOperationException: fall back to the rename shape
      // rather than failing the commit. FileAlreadyExistsException (a
      // subclass) stays "lost the race" above.
      case _: java.nio.file.FileSystemException =>
        renamePublish(conf, fs, tmp, qualTarget)
    }
  }

  /** `delta.logRetentionDuration`-style interval ("interval 30 days",
    * compound spellings like "interval 45 days 12 hours" included) →
    * milliseconds, via Spark's own interval parser — a misparse must
    * yield None (caller falls back to the 30-day default), NEVER a
    * shorter window than the owner configured, because cleanupLog
    * deletes history irreversibly. Month/year-bearing intervals are
    * calendar-ambiguous and also yield None. */
  private[sources] def intervalMs(s: String): Option[Long] =
    try {
      val text = s.trim
      val spelled = if (text.toLowerCase.startsWith("interval")) text
        else s"interval $text"
      val ci = org.apache.spark.sql.catalyst.util.IntervalUtils
        .stringToInterval(org.apache.spark.unsafe.types.UTF8String
          .fromString(spelled))
      if (ci == null || ci.months != 0) None
      else Some(ci.days * 24L * 3600 * 1000 + ci.microseconds / 1000)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Post-commit maintenance a Delta writer owes the table: checkpoint
    * when the JSON tail has reached the table's OWN
    * `delta.checkpointInterval` (delta-spark's default 10), and — when a
    * checkpoint lands — expire JSON commits below it past the table's
    * `delta.logRetentionDuration` (default 30 days), exactly the cleanup
    * delta-spark runs at checkpoint time. Batch verbs call this after
    * every won commit so an API user who never touches
    * [[maintainCheckpoint]] still leaves a bounded tail. Failures are
    * swallowed — the commit is already durable, and both steps are
    * maintenance any later writer can redo. */
  private[sources] def checkpointIfDue(spark: SparkSession, tablePath: String,
      cfg: Map[String, String]): Unit =
    try {
      val every = cfg.get("delta.checkpointInterval")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        .filter(_ > 0).getOrElse(10)
      maintainCheckpoint(spark, tablePath, every).foreach { _ =>
        val retention = cfg.get("delta.logRetentionDuration")
          .flatMap(intervalMs).getOrElse(30L * 24 * 3600 * 1000)
        cleanupLog(spark, tablePath, retention)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  // ------------------------------------------------ foreign-table appends

  /** Legacy column invariants (delta.io PROTOCOL.md "Column Invariants" —
    * the pre-CHECK-constraints form, writer version 2): a field whose
    * metadata carries `delta.invariants` holds a JSON document
    * `{"expression":{"expression":"<sql>"}}` binding that predicate to
    * every NEW row. Nested fields may declare them too; the stored SQL is
    * self-contained (it names the full column path), so the walk only has
    * to COLLECT, not qualify. Returns (declaring field name, predicate
    * SQL) pairs in schema order.
    *
    * Null convention: an invariant is violated when its predicate
    * evaluates to FALSE **or NULL** — delta-spark's CheckDeltaInvariant
    * raises on both, which is why writing NULL into an invariant-guarded
    * nullable column fails over there. That is deliberately STRICTER than
    * the ANSI unknown-passes rule this writer applies to
    * `delta.constraints.*`; each form matches its owning engine's
    * semantics. A malformed invariant document refuses the write (silently
    * skipping a gate the owning engine would enforce is the one wrong
    * answer), and so does an invariant declared on a struct field nested
    * inside an array/map element — per-element invariants cannot be
    * validated as a row predicate, so neither collecting nor skipping
    * them would be honest. */
  private[sources] def legacyInvariantsOf(schema: StructType): Seq[(String, String)] = {
    def walk(st: StructType): Seq[(String, String)] =
      st.fields.toSeq.flatMap { f =>
        val own =
          if (!f.metadata.contains("delta.invariants")) Nil
          else {
            val doc = f.metadata.getString("delta.invariants")
            JsonMethods.parseOpt(doc)
              .map(jv => jv \ "expression" \ "expression") match {
              case Some(JString(sql)) if sql.trim.nonEmpty => Seq(f.name -> sql)
              case _ => throw new IllegalArgumentException(
                s"column ${f.name}: malformed delta.invariants document " +
                  s"(expected {\"expression\":{\"expression\":\"<sql>\"}}): $doc")
            }
          }
        own ++ (f.dataType match {
          case s: StructType => walk(s)
          // An invariant declared on a struct field nested inside an
          // array/map element is NOT expressible as the row-level
          // predicate this writer validates with (one value per row vs
          // many elements per row) — delta-spark enforces those
          // per-element during its own writes. Collecting it here would
          // produce an unresolvable expr; skipping it would silently
          // drop a gate the owning engine enforces (the one wrong
          // answer). Refuse the write instead.
          case other =>
            def refuseIn(dt: org.apache.spark.sql.types.DataType): Unit = dt match {
              case s: StructType =>
                val nested = walk(s)
                if (nested.nonEmpty) throw new IllegalArgumentException(
                  s"column ${f.name}: delta.invariants declared inside an " +
                    s"array/map element (${nested.map(_._1).mkString(", ")}) " +
                    "— per-element invariants are enforced by the owning " +
                    "engine at its own writes and cannot be validated as a " +
                    "row predicate here; drop the invariant or write " +
                    "through the owning engine")
              case a: org.apache.spark.sql.types.ArrayType => refuseIn(a.elementType)
              case m: org.apache.spark.sql.types.MapType =>
                refuseIn(m.keyType); refuseIn(m.valueType)
              case _ => ()
            }
            other match {
              case a: org.apache.spark.sql.types.ArrayType => refuseIn(a.elementType)
              case m: org.apache.spark.sql.types.MapType =>
                refuseIn(m.keyType); refuseIn(m.valueType)
              case _ => ()
            }
            Nil
        })
      }
    walk(schema)
  }

  /** Append `df` to a FOREIGN Delta table (one no graft log governs) —
    * graft as a Delta WRITER, closing the bridge's last asymmetry: the
    * import reads foreign tables, the export mirrors graft tables, and
    * this commits new rows into a live delta-spark table that other
    * engines keep reading (reference analogue: the delta-rs writes
    * `delta_handler.py` performs against its own store).
    *
    * Concurrency is delta-spark's own optimistic protocol: the data files
    * stage ONCE under `_appends/<uuid>/` inside the table root, then the
    * commit loop re-resolves the snapshot, re-gates, and attempts version
    * N+1 by EXCLUSIVE publish of `N+1.json`; losing the race re-checks
    * against the winner's state (a blind append conflicts only with a
    * schema/partitioning/constraint change — anything else commutes and
    * is retried at N+2). Typed per-file stats ride each add from the
    * staged parquet footers, honoring the table's stats budget. Returns
    * the committed version. */
  /** `txn = Some((appId, batchVersion))` makes the append EXACTLY-ONCE
    * per (appId, batchVersion): the commit carries a `SetTransaction`
    * action, and an append whose batchVersion is already at-or-below the
    * table's recorded watermark for that appId is a NO-OP returning the
    * current version — the idempotence contract a `foreachBatch` retry
    * needs ([[foreachBatchForeign]]). The watermark survives checkpoints
    * and log compaction (both carry txn state). */
  def appendToForeign(spark: SparkSession, tablePath: String,
      df: org.apache.spark.sql.DataFrame,
      txn: Option[(String, Long)] = None): Long = {
    val tx = new ForeignTxn(spark, tablePath, s"append to $tablePath")
    val snap0 = DeltaImport.snapshot(spark, tablePath)
    tx.gate(snap0)
    // Legacy `delta.invariants` parse NOW (a malformed document must
    // refuse before any staging I/O); conforming rows validate against
    // the staged bytes below, alongside the CHECK constraints.
    legacyInvariantsOf(snap0.schema)
    if (ForeignTxn.txnCommitted(snap0, txn)) return snap0.version

    // Align to the snapshot's LOGICAL schema — lossless up-casts only,
    // full column coverage required after generated/identity fill
    // (appends never evolve a foreign schema; defaults therefore never
    // apply to this writer, which always materializes every column).
    val fields = snap0.schema.fields
    // Generated / identity obligations, discharged exactly as the owning
    // engine would (delta.io PROTOCOL.md "Generated Columns" / "Identity
    // Columns", the same scheme GraftTable.prepareWrite runs natively):
    //  - an OMITTED generated column computes from its
    //    delta.generationExpression (one column expression, no extra
    //    job); a PROVIDED one is validated value-for-value on the staged
    //    bytes alongside the CHECK constraints;
    //  - an omitted-or-null identity value is assigned
    //    hwm + step·(1 + task-block counter) via
    //    monotonically_increasing_id — per-task range reservation, no
    //    shuffle, no driver sequence; explicit non-null values require
    //    delta.identity.allowExplicitInsert.
    val genSpecs = generatedSpecs(fields)
    val (idSpecs, idHwm) = identitySpecs(fields)
    val dfGen = genSpecs.foldLeft(df) { case (d, (name, sql)) =>
      if (d.columns.exists(_.equalsIgnoreCase(name))) d
      else d.withColumn(name, org.apache.spark.sql.functions.expr(sql))
    }
    val dfFilled = idSpecs.foldLeft(dfGen) { case (d, (name, (_, step, allowExplicit))) =>
      import org.apache.spark.sql.functions.{lit, when, monotonically_increasing_id}
      val assign = lit(idHwm(name)) +
        lit(step) * (monotonically_increasing_id() + lit(1L))
      d.columns.find(_.equalsIgnoreCase(name)) match {
        case None => d.withColumn(name, assign)
        case Some(src) =>
          require(allowExplicit,
            s"append to $tablePath: identity column $name is GENERATED " +
              "ALWAYS — omit it and let the writer assign ids")
          d.withColumn(src,
            when(col(s"`$src`").isNotNull, col(s"`$src`").cast("long"))
              .otherwise(assign))
      }
    }
    val byLower = dfFilled.columns.map(c => c.toLowerCase -> c).toMap
    val extra = dfFilled.columns.filterNot(c =>
      fields.exists(_.name.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"append to $tablePath: unknown column(s) ${extra.mkString(", ")} — " +
        "foreign appends never evolve the schema")
    val aligned = dfFilled.select(fields.toIndexedSeq.map { f =>
      val src = byLower.getOrElse(f.name.toLowerCase,
        throw new IllegalArgumentException(
          s"append to $tablePath: missing column ${f.name}"))
      val in = dfFilled.schema(src).dataType
      require(in == f.dataType ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(in, f.dataType),
        s"append to $tablePath: column $src of type ${in.simpleString} does " +
          s"not up-cast losslessly to ${f.dataType.simpleString}")
      col(src).cast(f.dataType).as(f.name)
    }: _*)
    // CALLER-provided generated columns must agree with their expression
    // (null-safe), or data skipping on the materialized column would lie
    // about the base columns.
    val genChecks = genSpecs.keySet
      .filter(n => df.columns.exists(_.equalsIgnoreCase(n)))
      .toSeq.sorted.map(n =>
        org.apache.spark.sql.functions.count_if(!(col(s"`$n`") <=>
          org.apache.spark.sql.functions.expr(genSpecs(n)))).as(s"generated $n"))

    val layout = new ForeignTxn.Layout(snap0)
    tx.run {
      // Stage under the table root: files are immutable once written; only
      // the commit decides whether they become part of the table.
      val stagePath = tx.writeStaged(
        DeltaImport.physicalRender(aligned, snap0.schema),
        s"_appends/${java.util.UUID.randomUUID()}", layout.partCols)
      def staged(): org.apache.spark.sql.DataFrame = DeltaImport.logicalRestore(
        spark.read.option("basePath", stagePath.toString)
          .parquet(stagePath.toString), snap0.schema)
      def validate(cfg: Map[String, String]): Unit =
        tx.validate(staged(), snap0.schema, cfg, genChecks)
      validate(snap0.configuration)
      // Advanced identity watermark: the directional extreme of the staged
      // ids (one aggregate over the batch-bounded staging, the cost class
      // of the validation scan above). The commit re-publishes metaData
      // with the new delta.identity.highWaterMark so the NEXT writer —
      // any engine — allocates past it.
      val newHwms: Map[String, Long] =
        if (idSpecs.isEmpty) Map.empty
        else advancedHwms(staged(), idSpecs, idHwm)
      val files = tx.parquetsUnder(stagePath)
      if (files.isEmpty) throw new IllegalArgumentException(
        s"append to $tablePath: the frame produced no rows to append")
      val metrics = Map("numFiles" -> files.size.toLong,
        "numOutputRows" -> files.map(tx.footerRows).sum,
        "numOutputBytes" -> files.map(_.getLen).sum)

      tx.commit(snap0) { snap =>
        legacyInvariantsOf(snap.schema)
        // A rival carrying the SAME (appId, batch) already committed it.
        if (ForeignTxn.txnCommitted(snap, txn)) Some(snap.version)
        else {
          // A blind append conflicts only with changes to what was
          // already validated: schema, partitioning, constraints.
          if (ForeignTxn.layoutChanged(snap0, snap))
            throw new IllegalArgumentException(
              s"append to $tablePath: the table's schema or partitioning " +
                "changed mid-append — restage against the new state")
          if (ForeignTxn.constraintsOf(snap.configuration) !=
              ForeignTxn.constraintsOf(snap0.configuration))
            validate(snap.configuration)
          None
        }
      } { snap =>
        ForeignTxn.Publish("APPEND", metrics, snap.schema.json,
          snap.configuration,
          st => tx.hwmMetaData(snap, newHwms) ++
            tx.freshAdds(layout, snap, st.version, files) ++
            ForeignTxn.txnJson(txn, st.nowMs),
          v => v)
      }
    }
  }

  /** OPTIMIZE on a FOREIGN Delta table — the maintenance verb completing
    * the writer set (with [[writeCheckpoint]]/[[maintainCheckpoint]], a
    * graft process can now fully OPERATE a table it does not own):
    * small files (< half the target) and DV-carrying files compact into
    * near-target files with the deletions materialized away, as
    * `dataChange=false` removes+adds — CDF readers see nothing, exactly
    * Delta's OPTIMIZE contract. Legal on appendOnly tables (Delta allows
    * it — no row changes) and on generated/identity columns (rows ride
    * verbatim); refused on row-tracked tables (compaction cannot
    * preserve derived ids without the materialized column only the
    * owning engine maintains). Lost races retry only when the winner
    * left every selected file untouched. Returns
    * (committedVersion, filesRemoved, filesAdded) — (currentVersion,
    * 0, 0) when nothing qualifies. */
  def optimizeForeign(spark: SparkSession, tablePath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Long, Long, Long) = {
    val tx = new ForeignTxn(spark, tablePath, s"optimize of $tablePath")
    def gate(snap: DeltaImport.Snapshot): Unit =
      require(!snap.protocol.exists(p => p.minWriterVersion >= 7 &&
        p.writerFeatures.contains("rowTracking")),
        s"optimize of $tablePath: compaction cannot preserve row ids " +
          "without the materialized id column — run OPTIMIZE on the " +
          "owning engine")

    val snap0 = DeltaImport.snapshot(spark, tablePath)
    tx.gate(snap0)
    gate(snap0)
    val selected = snap0.files.filter(f =>
      f.size < targetFileBytes / 2 ||
        f.deletionVector.exists(_.cardinality > 0))
    // One small clean file is already optimal; one DV'd file still folds.
    if (selected.isEmpty ||
        (selected.size == 1 && selected.head.deletionVector.isEmpty))
      return (snap0.version, 0L, 0L)

    val FileC = "__graft_foreign_opt_file"
    val PosC = "__graft_foreign_opt_pos"
    val live = DeltaImport
      .readFilesWithPositions(spark, snap0, selected, FileC, PosC)
      .drop(FileC, PosC)
    val layout = new ForeignTxn.Layout(snap0)
    val totalBytes = selected.map(_.size).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val physDf = DeltaImport.physicalRender(live.repartition(nOut), snap0.schema)
    tx.run {
      val stagePath = tx.writeStaged(physDf,
        s"_appends/${java.util.UUID.randomUUID()}-compact", layout.partCols)
      val stagedFiles = tx.parquetsUnder(stagePath)
      tx.commit[(Long, Long, Long)](snap0) { snap =>
        gate(snap)
        if (ForeignTxn.layoutChanged(snap0, snap) ||
            ForeignTxn.filesChanged(snap0, snap, selected.map(_.path)))
          throw new IllegalArgumentException(
            s"optimize of $tablePath: a concurrent commit touched the " +
              "files being compacted — re-run against the new state")
        None
      } { snap =>
        ForeignTxn.Publish("OPTIMIZE",
          Map("numRemovedFiles" -> selected.size.toLong,
            "numAddedFiles" -> stagedFiles.size.toLong,
            "numDeletionVectorsRemoved" ->
              selected.count(_.deletionVector.nonEmpty).toLong),
          snap0.schema.json, snap.configuration,
          st => selected.sortBy(_.path).map(f => ForeignTxn.removeJson(
            f.path, st.nowMs, dataChange = false, f.deletionVector)) ++
            stagedFiles.map(f => tx.addLine(layout, snap, tx.relOf(f), f,
              dataChange = false)),
          v => (v, selected.size.toLong, stagedFiles.size.toLong))
      }
    }
  }

  /** RESTORE a FOREIGN Delta table to an earlier version — delta-spark's
    * RESTORE as one commit: files of the target version not in the
    * current snapshot re-add (their DV descriptors and row-tracking
    * fields riding verbatim), current files absent from the target
    * remove, and files present in BOTH but with a different deletion
    * vector re-add with the target's DV (the remove+add pair Delta uses
    * for DV changes). Data files must still exist — a restore below the
    * vacuum horizon refuses with the files named (Delta's own failure
    * mode). The table's metadata/protocol stay AT HEAD (Delta restores
    * data, not schema). Returns (committedVersion, filesAdded,
    * filesRemoved). */
  def restoreForeign(spark: SparkSession, tablePath: String,
      versionAsOf: Long): (Long, Long, Long) = {
    val tx = new ForeignTxn(spark, tablePath, s"restore of $tablePath",
      obligations = "obligations")
    val target = DeltaImport.snapshot(spark, tablePath, Some(versionAsOf))
    val missing = target.files.filterNot(f =>
      tx.fs.exists(DeltaImport.resolveFile(tablePath, f.path)))
    require(missing.isEmpty,
      s"restore of $tablePath to $versionAsOf: data file(s) " +
        s"${missing.map(_.path).take(5).mkString(", ")} no longer exist " +
        "(vacuumed) — the version is below the retention horizon")
    val tgtByRel = target.files.map(f => f.path -> f).toMap

    // No conflict rule: a lost race re-derives the diff against the new head.
    tx.commit[(Long, Long, Long)](DeltaImport.snapshot(spark, tablePath))(
        _ => None) { snap =>
      require(!flagOn(snap.configuration, "delta.appendOnly"),
        s"restore of $tablePath: the table is append-only (delta.appendOnly)")
      require(versionAsOf <= snap.version,
        s"restore of $tablePath: version $versionAsOf is beyond head ${snap.version}")
      val curByRel = snap.files.map(f => f.path -> f).toMap
      val toAdd = target.files.filter(f => !curByRel.contains(f.path) ||
        curByRel(f.path).deletionVector != f.deletionVector)
      val toRemove = snap.files.filter(f => !tgtByRel.contains(f.path))
      if (toAdd.isEmpty && toRemove.isEmpty)
        ForeignTxn.Unchanged((snap.version, 0L, 0L))
      else {
        val layout = new ForeignTxn.Layout(snap)
        ForeignTxn.Publish("RESTORE",
          Map("numRestoredFiles" -> toAdd.size.toLong,
            "numRemovedFiles" -> toRemove.size.toLong),
          snap.schema.json, snap.configuration,
          st => toRemove.sortBy(_.path).map(f => ForeignTxn.removeJson(
            f.path, st.nowMs, dataChange = true, f.deletionVector)) ++
            toAdd.sortBy(_.path).flatMap { f =>
              // A both-sides file changing only its DV removes first (the
              // remove+add pair Delta writes for DV transitions).
              curByRel.get(f.path).map(c => ForeignTxn.removeJson(f.path,
                st.nowMs, dataChange = true, c.deletionVector)).toSeq :+
                tx.addLine(layout, snap, f.path,
                  tx.fs.getFileStatus(DeltaImport.resolveFile(tablePath, f.path)),
                  dv = f.deletionVector, baseRowId = f.baseRowId,
                  rowCommitVersion = f.defaultRowCommitVersion)
            },
          v => (v, toAdd.size.toLong, toRemove.size.toLong))
      }
    }
  }

  /** VACUUM on a FOREIGN Delta table — delta-spark's file-level vacuum:
    * every file under the table root that the CURRENT snapshot does not
    * reference (data parquet, deletion-vector bins, change-data files,
    * stranded `_appends/` staging) and whose modification time predates
    * the retention cutoff is deleted; `_delta_log/` is never touched
    * (log retention is [[cleanupLog]]'s job). Time travel below the
    * cutoff stops working afterwards — Delta's documented trade. The
    * `vacuumProtocolCheck` obligation is discharged by the same writer
    * gate every foreign verb runs. Returns the deleted relative paths
    * (report only under `dryRun`). */
  def vacuumForeign(spark: SparkSession, tablePath: String,
      retentionHours: Double = 168.0, dryRun: Boolean = false,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val snap = DeltaImport.snapshot(spark, tablePath)
    ForeignTxn.writerGate(snap, s"vacuum of $tablePath", "obligations")
    val cutoff = nowMs - (retentionHours * 3600 * 1000).toLong
    val rootAbs = root.toUri.getPath.stripSuffix("/")
    // The keep set: the live snapshot's data files, every deletion-vector
    // file a live descriptor references, AND — delta-spark's VACUUM rule —
    // every file referenced by a remove tombstone whose deletionTimestamp
    // is NEWER than the cutoff. A file written long ago but removed
    // recently (an OPTIMIZE, RESTORE, or rewrite by any engine) is still
    // needed by time travel, RESTORE, and in-flight readers of pre-remove
    // snapshots within the retention window; deleting it on mtime alone
    // would break them. Tombstones are recovered the way writeCheckpoint
    // recovers them: the prior checkpoint's remove rows (history the JSON
    // cleanup may have eaten), then the JSON tail after it.
    val recentTombAbs: Set[String] = {
      var tomb = Map.empty[String, Long] // rel path -> deletionTimestamp
      var dvOfTomb = Map.empty[String, String] // rel path -> DV abs path
      var priorVersion = -1L
      DeltaImport.lastCheckpoint(spark, tablePath, Some(snap.version)).foreach {
        case (pv, parts) =>
          priorVersion = pv
          val prior = spark.read.parquet(parts.map(_.toString): _*)
          if (prior.columns.contains("remove")) {
            val hasDv = prior.schema("remove").dataType
              .asInstanceOf[StructType].fieldNames.contains("deletionVector")
            // Leaf fields by NAME — struct field order is not fixed by
            // the protocol (see writeCheckpoint's recovery).
            val base = prior.select(Seq(col("remove.path"),
              col("remove.deletionTimestamp")) ++
              (if (hasDv) Seq(
                col("remove.deletionVector.storageType"),
                col("remove.deletionVector.pathOrInlineDv"),
                col("remove.deletionVector.offset").cast("int"),
                col("remove.deletionVector.sizeInBytes").cast("int"),
                col("remove.deletionVector.cardinality").cast("long"))
              else Nil): _*)
            base.filter(col("path").isNotNull).collect().foreach { r =>
              tomb += r.getString(0) ->
                (if (r.isNullAt(1)) 0L else r.getLong(1))
              if (hasDv && !r.isNullAt(2) && r.getString(2) != "i")
                dvOfTomb += r.getString(0) -> DeltaDeletionVectors
                  .filePathOf(DeltaDeletionVectors.Descriptor(
                    r.getString(2), r.getString(3),
                    if (r.isNullAt(4)) None else Some(r.getInt(4)),
                    r.getInt(5), r.getLong(6)), tablePath)
                  .toUri.getPath
            }
          }
      }
      DeltaImport.changesBetween(spark, tablePath, priorVersion, snap.version)
        .foreach { vc =>
          vc.allRemoves.foreach { r =>
            tomb += r.path -> vc.timestampMs
            r.deletionVector.filter(_.storageType != "i").foreach(d =>
              dvOfTomb += r.path ->
                DeltaDeletionVectors.filePathOf(d, tablePath).toUri.getPath)
          }
        }
      val recent = tomb.filter { case (_, ts) => ts >= cutoff }.keySet
      recent.map(rel =>
        DeltaImport.resolveFile(tablePath, rel).toUri.getPath) ++
        recent.flatMap(dvOfTomb.get)
    }
    val liveAbs: Set[String] =
      snap.files.map(f =>
        DeltaImport.resolveFile(tablePath, f.path).toUri.getPath).toSet ++
      snap.files.flatMap(_.deletionVector).filter(_.storageType != "i")
        .map(d => DeltaDeletionVectors.filePathOf(d, tablePath).toUri.getPath) ++
      recentTombAbs
    val deleted = Seq.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath.toUri.getPath
      val rel = p.stripPrefix(rootAbs).stripPrefix("/")
      if (!rel.startsWith("_delta_log/") && !liveAbs.contains(p) &&
          st.getModificationTime < cutoff && st.isFile) {
        if (dryRun) deleted += rel
        else if (fs.delete(st.getPath, false)) deleted += rel
      }
    }
    deleted.result()
  }

  /** Legacy protocol versions imply feature sets (PROTOCOL.md's version
    * table): an upgrade to the table-features form must RESTATE them
    * explicitly, or a v7 reader would treat the table as having no
    * capabilities at all. */
  private def legacyWriterFeatures(v: Int): Seq[String] = Seq(
    2 -> Seq("appendOnly", "invariants"),
    3 -> Seq("checkConstraints"),
    4 -> Seq("changeDataFeed", "generatedColumns"),
    5 -> Seq("columnMapping"),
    6 -> Seq("identityColumns")).filter(_._1 <= v).flatMap(_._2)

  private def legacyReaderFeatures(v: Int): Seq[String] =
    if (v >= 2) Seq("columnMapping") else Nil

  /** `delta.*` keys this administrator accepts WITHOUT a feature
    * obligation — plain behavioral knobs the existing verbs already
    * honor. Everything else delta-prefixed refuses by name (delta-spark
    * validates unknown delta. keys the same way; silently recording a
    * property whose obligation nobody discharges would lie to the next
    * engine). */
  private val PlainConfigKeys: Set[String] = Set(
    "delta.checkpointInterval", "delta.logRetentionDuration",
    "delta.deletedFileRetentionDuration",
    "delta.dataSkippingNumIndexedCols", "delta.dataSkippingStatsColumns")

  /** ALTER TABLE SET/UNSET TBLPROPERTIES on a FOREIGN Delta table — the
    * administrative verb that lets graft ADOPT a plain foreign table
    * into DV / CDF / ICT / append-only workflows without the owning
    * engine. delta-spark's AlterTableSetProperties semantics:
    *
    *  - `set` merges over the current configuration; `unset` keys drop
    *    (absent keys are no-ops, the UNSET … IF EXISTS shape);
    *  - a property that REQUIRES a table feature upgrades the protocol
    *    in the SAME commit (PROTOCOL.md allows adding features any
    *    time): enableDeletionVectors → deletionVectors (reader 3 /
    *    writer 7), enableChangeDataFeed → changeDataFeed,
    *    enableInCommitTimestamps → inCommitTimestamp (+ the enablement
    *    version/timestamp provenance properties, and THIS commit already
    *    stamps an ICT), appendOnly → appendOnly, checkpointPolicy=v2 →
    *    v2Checkpoint, delta.constraints.* → checkConstraints. A legacy
    *    protocol upgrading to v7 restates its implied features;
    *  - NEW `delta.constraints.*` predicates validate against the
    *    table's CURRENT rows first (one count_if scan per attempt, over
    *    the snapshot being committed over) — ADD CONSTRAINT refuses with
    *    the violating row count, exactly like delta-spark;
    *  - column-mapping mode changes and `delta.enableRowTracking` are
    *    refused: physical-name assignment and baseRowId backfill are
    *    rewrite obligations that belong to the owning engine;
    *  - unknown `delta.*` keys refuse by name; non-delta keys pass
    *    through verbatim (user metadata).
    *
    * Returns the committed version. */
  def setForeignProperties(spark: SparkSession, tablePath: String,
      set: Map[String, String], unset: Seq[String] = Nil): Long = {
    val tx = new ForeignTxn(spark, tablePath,
      s"property change of $tablePath",
      retryHint = "retry when the table quiesces")
    def sets(key: String): Boolean = flagOn(set, key)

    set.keys.foreach { k =>
      require(!unset.contains(k),
        s"property change of $tablePath: $k is both set and unset")
    }
    unset.foreach { k =>
      require(!k.startsWith("delta.columnMapping."),
        s"property change of $tablePath: unsetting $k would orphan the " +
          "physical names already in the schema — owning-engine territory")
    }
    set.foreach { case (k, v) =>
      val known = PlainConfigKeys(k) ||
        k.startsWith("delta.constraints.") ||
        k == "delta.enableDeletionVectors" ||
        k == "delta.enableChangeDataFeed" ||
        k == "delta.enableInCommitTimestamps" ||
        k == "delta.appendOnly" ||
        k == "delta.checkpointPolicy" ||
        k == "delta.enableRowTracking" || // refused below, by name
        k == "delta.columnMapping.mode"   // gate checks it is a no-op
      require(known || !k.startsWith("delta."),
        s"property change of $tablePath: $k carries obligations this " +
          "administrator does not implement — set it through the owning " +
          "engine")
      require(k != "delta.checkpointPolicy" || v == "v2" || v == "classic",
        s"property change of $tablePath: unknown checkpointPolicy $v")
    }
    require(!sets("delta.enableRowTracking"),
      s"property change of $tablePath: row tracking needs a baseRowId " +
        "backfill only the owning engine can run")

    // No conflict rule: every attempt re-derives the change from its head.
    tx.commit[Long](DeltaImport.snapshot(spark, tablePath))(_ => None) { snap =>
      set.get("delta.columnMapping.mode").foreach { m =>
        val cur = snap.configuration.get("delta.columnMapping.mode")
          .getOrElse("none")
        // none→name is delta-spark's metadata-only upgrade (physical
        // names = current names, so existing parquet stays readable);
        // every other transition rewrites files or re-keys reads by
        // parquet field ids — owning-engine territory.
        require(cur == m || (cur == "none" && m == "name"),
          s"property change of $tablePath: column-mapping mode $cur → $m " +
            "is not a metadata-only transition — owning-engine territory")
      }

      // New/changed CHECK constraints validate against the CURRENT rows
      // of the snapshot this commit publishes over (re-run per retry —
      // a rival append may have introduced a violating row).
      val newConstraints = set.collect {
        case (k, p) if k.startsWith("delta.constraints.") &&
            !snap.configuration.get(k).contains(p) =>
          k.stripPrefix("delta.constraints.") -> p
      }.toSeq.sortBy(_._1)
      if (newConstraints.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, count_if, expr, lit}
        val cur = DeltaImport.read(spark, snap)
        val checks = newConstraints.map { case (n, p) =>
          count_if(!coalesce(expr(p).cast("boolean"), lit(true)))
            .as(s"constraint $n") }
        val row = cur.agg(checks.head, checks.tail: _*).collect().head
        val bad = row.schema.fieldNames.zipWithIndex
          .filter { case (_, i) => row.getLong(i) > 0 }
        require(bad.isEmpty,
          s"property change of $tablePath: existing rows violate " +
            s"${bad.map(_._1).mkString("; ")} " +
            s"(${bad.map(b => row.getLong(b._2)).mkString(", ")} row(s))")
      }

      // Protocol upgrade, if any requested property carries a feature.
      // Reader-writer features carry a minimum reader version
      // (columnMapping reads at legacy reader 2; DV / v2 checkpoints
      // need the features-form reader 3).
      val curP = snap.protocol.getOrElse(DeltaImport.Protocol(1, 2, Nil, Nil))
      def writerCovered(f: String): Boolean =
        if (curP.minWriterVersion >= 7) curP.writerFeatures.contains(f)
        else legacyWriterFeatures(curP.minWriterVersion).contains(f)
      def readerCovered(f: String): Boolean =
        if (curP.minReaderVersion >= 3) curP.readerFeatures.contains(f)
        else legacyReaderFeatures(curP.minReaderVersion).contains(f)
      val mappingUpgrade = set.get("delta.columnMapping.mode")
        .contains("name") && !snap.configuration
        .get("delta.columnMapping.mode").contains("name")
      val wantsW = Seq(
        sets("delta.enableDeletionVectors") -> "deletionVectors",
        sets("delta.enableChangeDataFeed") -> "changeDataFeed",
        sets("delta.enableInCommitTimestamps") -> "inCommitTimestamp",
        sets("delta.appendOnly") -> "appendOnly",
        set.get("delta.checkpointPolicy").contains("v2") -> "v2Checkpoint",
        mappingUpgrade -> "columnMapping",
        set.keys.exists(_.startsWith("delta.constraints.")) ->
          "checkConstraints").collect { case (true, f) => f }
      val readerMin = Map("deletionVectors" -> 3, "v2Checkpoint" -> 3,
        "columnMapping" -> 2)
      val wantsR = wantsW.filter(readerMin.contains)
      val needW = wantsW.filterNot(writerCovered)
      val needR = wantsR.filterNot(readerCovered)
      val protoLine: Option[String] =
        if (needW.isEmpty && needR.isEmpty) None
        else {
          val baseW = if (curP.minWriterVersion >= 7) curP.writerFeatures
            else legacyWriterFeatures(curP.minWriterVersion)
          val newMr = (Seq(curP.minReaderVersion) ++
            needR.map(readerMin)).max
          val baseR = if (newMr < 3) Nil
            else if (curP.minReaderVersion >= 3) curP.readerFeatures
            else legacyReaderFeatures(curP.minReaderVersion)
          val wFeats = (baseW ++ needW).distinct.sorted
          val rFeats = (baseR ++ needR).distinct.sorted
          Some(JsonMethods.compact(JObject("protocol" -> JObject(List(
            "minReaderVersion" -> (JInt(newMr): JValue),
            "minWriterVersion" -> (JInt(7): JValue)) ++
            (if (newMr >= 3)
              List("readerFeatures" -> (JArray(
                rFeats.map(JString(_)).toList): JValue))
            else Nil) ++
            List("writerFeatures" -> (JArray(
              wFeats.map(JString(_)).toList): JValue))))))
        }

      // ICT enablement provenance (PROTOCOL.md: the enablement commit
      // records version + timestamp so earlier file-timestamp travel
      // stays well-defined). This commit itself already stamps an ICT.
      val enablingIct = sets("delta.enableInCommitTimestamps") &&
        !flagOn(snap.configuration, "delta.enableInCommitTimestamps")

      // Mapping upgrade: annotate EVERY field — nested included — with a
      // column id and physicalName = its CURRENT name (delta-spark's
      // none→name upgrade rule: existing parquet keeps reading because
      // the physical names it already uses become the declared ones),
      // and record the id high-water mark.
      val (newSchema, mapProps): (StructType, Map[String, String]) =
        if (!mappingUpgrade) (snap.schema, Map.empty)
        else {
          var nextId = 0L
          def walk(dt: DataType): DataType = dt match {
            case s: StructType => StructType(s.fields.map { f =>
              nextId += 1
              val m = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putLong("delta.columnMapping.id", nextId)
                .putString("delta.columnMapping.physicalName", f.name)
                .build()
              f.copy(dataType = walk(f.dataType), metadata = m)
            })
            case a: ArrayType => a.copy(elementType = walk(a.elementType))
            case m: MapType =>
              m.copy(keyType = walk(m.keyType), valueType = walk(m.valueType))
            case other => other
          }
          val annotated = walk(snap.schema).asInstanceOf[StructType]
          (annotated,
            Map("delta.columnMapping.maxColumnId" -> nextId.toString))
        }
      val merged = (snap.configuration -- unset) ++ set ++ mapProps
      if (merged == snap.configuration && protoLine.isEmpty)
        ForeignTxn.Unchanged(snap.version) // nothing to change — idempotent no-op
      else ForeignTxn.Publish("SET TBLPROPERTIES",
        Map("numSetProperties" -> set.size.toLong,
          "numUnsetProperties" -> unset.size.toLong),
        newSchema.json, merged,
        st => protoLine.toSeq :+ tx.metaDataJson(snap, newSchema,
          snap.partitionColumns,
          if (!enablingIct) merged
          else merged ++ Map(
            "delta.inCommitTimestampEnablementVersion" -> st.version.toString,
            "delta.inCommitTimestampEnablementTimestamp" -> st.ict.get.toString)),
        v => v)
    }
  }

  /** `ALTER TABLE delta.`path` RENAME COLUMN from TO to` — the verb the
    * column-mapping upgrade exists for: a metadata-only logical rename
    * (the field keeps its id and physicalName, so no data file is
    * touched and every existing reader of the bytes keeps working —
    * delta-spark's exact RENAME COLUMN shape). Requires
    * `delta.columnMapping.mode = name` (enable it first through
    * [[setForeignProperties]], delta-spark demands the same); top-level
    * columns only; refuses a rename that would break a CHECK constraint,
    * another column's generation expression, or a legacy
    * `delta.invariants` predicate (conservative word-boundary reference
    * check — delta-spark resolves the expressions, this writer refuses
    * anything that LOOKS referenced; an un-rewritten invariant would
    * brick every subsequent validated write).
    * Partition columns rename with their metaData entry (the list holds
    * logical names; directories were always physical). Returns the
    * committed version. */
  def renameForeignColumn(spark: SparkSession, tablePath: String,
      from: String, to: String): Long = {
    val tx = new ForeignTxn(spark, tablePath, s"rename in $tablePath",
      retryHint = "retry when the table quiesces")
    require(!from.contains(".") && !to.contains("."),
      s"rename in $tablePath: only top-level columns rename here — " +
        "nested renames belong to the owning engine")

    // No conflict rule: every attempt re-checks the rename against its head.
    tx.commit[Long](DeltaImport.snapshot(spark, tablePath))(_ => None) { snap =>
      require(snap.configuration.get("delta.columnMapping.mode")
        .contains("name"),
        s"rename in $tablePath: requires delta.columnMapping.mode=name — " +
          "enable it first (setForeignProperties), exactly as delta-spark " +
          "requires")
      require(snap.schema.fields.exists(_.name == from),
        s"rename in $tablePath: no column named $from")
      require(!snap.schema.fields.exists(_.name.equalsIgnoreCase(to)),
        s"rename in $tablePath: a column named $to already exists")
      val ref = ("(?i)\\b" + java.util.regex.Pattern.quote(from) + "\\b").r
      snap.configuration.foreach { case (k, p) =>
        require(!k.startsWith("delta.constraints.") ||
          ref.findFirstIn(p).isEmpty,
          s"rename in $tablePath: constraint ${k.stripPrefix(
            "delta.constraints.")} references $from — drop it first")
      }
      snap.schema.fields.foreach { f =>
        require(!f.metadata.contains("delta.generationExpression") ||
          ref.findFirstIn(
            f.metadata.getString("delta.generationExpression")).isEmpty,
          s"rename in $tablePath: generated column ${f.name} references " +
            s"$from — owning-engine territory")
      }
      // Legacy delta.invariants documents keep their SQL verbatim through
      // a rename — and every subsequent foreign write re-evaluates them
      // (ForeignTxn.validate), so a rename that leaves an invariant
      // pointing at the old name bricks the table: each later
      // append/merge/update fails with an unresolved-column error while
      // other engines see inconsistent metadata. Same word-boundary guard
      // as constraints: drop the invariant first.
      legacyInvariantsOf(snap.schema).foreach { case (col, sql) =>
        require(ref.findFirstIn(sql).isEmpty,
          s"rename in $tablePath: legacy invariant on $col references " +
            s"$from — drop it first (the invariant SQL is not rewritten " +
            "by a rename and would brick every subsequent write)")
      }
      val newSchema = StructType(snap.schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      ForeignTxn.Publish("RENAME COLUMN", Map.empty, newSchema.json,
        snap.configuration,
        _ => Seq(tx.metaDataJson(snap, newSchema,
          snap.partitionColumns.map(c => if (c == from) to else c),
          snap.configuration)),
        v => v)
    }
  }

  /** A `foreachBatch` function streaming micro-batches into a FOREIGN
    * Delta table exactly-once: each batch appends through
    * [[appendToForeign]] with `txn = (appId, batchId)`, so an
    * at-least-once redelivery after a sink crash is a no-op — the
    * standard Delta streaming-sink idempotence contract
    * (delta-spark's `txnAppId`/`txnVersion` write options), here for
    * tables graft does not govern. Pick one stable `appId` per logical
    * query (the checkpoint location is the conventional choice). */
  def foreachBatchForeign(tablePath: String, appId: String)
      : (org.apache.spark.sql.DataFrame, Long) => Unit =
    (df, batchId) =>
      { appendToForeign(df.sparkSession, tablePath, df, Some((appId, batchId))); () }

  /** MERGE (canonical upsert) into a FOREIGN Delta table — the CDC verb:
    * `whenMatchedUpdateAll.whenNotMatchedInsertAll` on one equi key,
    * delta-spark's DV-merge shape. Matched target rows are DV-deleted
    * from their files and EVERY source row lands in new data files (for
    * a matched key the new image REPLACES the old — exactly update-all;
    * an unmatched key is a plain insert), all in ONE commit. A
    * CDF-enabled table gets update_preimage/update_postimage rows for
    * matched keys and insert rows for new ones. Source must be unique
    * per key (delta-spark errors on multiple matches too). The matched
    * scan joins the table's files against the source's key column —
    * never a collected key list — and when the source is small its side
    * broadcasts; with ≤1000 distinct keys the file set additionally
    * prunes through data skipping. `txn` gives the same exactly-once
    * contract as [[appendToForeign]], making
    * `foreachBatch((b, id) => mergeForeignUpsert(…, txn = Some((app, id))))`
    * a crash-safe streaming CDC apply onto a table graft does not govern.
    * A table WITHOUT `deletionVectors` advertised falls back to the
    * classic rewrite shape (touched files removed, survivors restaged);
    * refuses appendOnly tables. Generated/identity tables delegate to
    * the clause path (whose images discharge those obligations); legacy
    * `delta.invariants` validate on the staged bytes like CHECK
    * constraints. Returns (committedVersion, matchedCount,
    * insertedCount). */
  def mergeForeignUpsert(spark: SparkSession, tablePath: String,
      source: org.apache.spark.sql.DataFrame, key: String,
      txn: Option[(String, Long)] = None): (Long, Long, Long) = {
    val tx = new ForeignTxn(spark, tablePath, s"merge into $tablePath")
    def gate(snap: DeltaImport.Snapshot): Unit = {
      require(!flagOn(snap.configuration, "delta.appendOnly"),
        s"merge into $tablePath: the table is append-only (delta.appendOnly)")
      val badMeta = snap.schema.fields.filter(f =>
        f.metadata.contains("delta.generationExpression") ||
          f.metadata.contains("delta.identity.start"))
      require(badMeta.isEmpty,
        s"merge into $tablePath: column(s) ${badMeta.map(_.name).mkString(", ")} " +
          "declare generated/identity semantics a merger must " +
          "compute — write through the owning engine instead")
      legacyInvariantsOf(snap.schema) // malformed document refuses up front
    }

    val snap0 = DeltaImport.snapshot(spark, tablePath)
    // Generated / identity tables take the clause path, whose images
    // discharge those obligations (generated columns recompute, identity
    // ids allocate past the high-water mark); the canonical upsert IS
    // exactly UpdateAll + InsertAll there. The upsert's OWN contract is
    // enforced FIRST — full coverage of the ordinary columns and
    // lossless up-casts — so the same API call stays strict-or-refuse
    // regardless of table metadata (the clause path alone is lenient:
    // UpdateAll would silently keep stale values for a missing column).
    if (snap0.schema.fields.exists(f =>
        f.metadata.contains("delta.generationExpression") ||
          f.metadata.contains("delta.identity.start"))) {
      val engineMaintained = snap0.schema.fields.filter(f =>
        f.metadata.contains("delta.generationExpression") ||
          f.metadata.contains("delta.identity.start")).map(_.name).toSet
      val extra = source.columns.filterNot(c =>
        snap0.schema.fields.exists(_.name.equalsIgnoreCase(c)))
      require(extra.isEmpty,
        s"merge into $tablePath: unknown column(s) ${extra.mkString(", ")} — " +
          "foreign merges never evolve the schema")
      snap0.schema.fields.filterNot(f => engineMaintained(f.name)).foreach { f =>
        val src = source.columns.find(_.equalsIgnoreCase(f.name))
          .getOrElse(throw new IllegalArgumentException(
            s"merge into $tablePath: missing column ${f.name}"))
        val in = source.schema(src).dataType
        require(in == f.dataType ||
          org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(in, f.dataType),
          s"merge into $tablePath: column $src of type ${in.simpleString} " +
            s"does not up-cast losslessly to ${f.dataType.simpleString}")
      }
      val (v, u, _, i) = mergeForeignClauses(spark, tablePath, source,
        Seq(key),
        matched = Seq(graft.table.MergeClause.UpdateAll()),
        notMatched = Seq(graft.table.MergeClause.InsertAll()), txn = txn)
      return (v, u, i)
    }
    tx.gate(snap0)
    gate(snap0)
    if (ForeignTxn.txnCommitted(snap0, txn)) return (snap0.version, 0L, 0L)
    val fields = snap0.schema.fields
    require(fields.exists(_.name.equalsIgnoreCase(key)),
      s"merge into $tablePath: no key column named $key")
    val keyName = fields.find(_.name.equalsIgnoreCase(key)).get.name
    // (Partition-keyed merges are fine: new images land in their own
    // partition dirs, old ones are DV'd in place.)

    // Align the source like an append (full column coverage, lossless).
    val byLower = source.columns.map(c => c.toLowerCase -> c).toMap
    val extra = source.columns.filterNot(c =>
      fields.exists(_.name.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"merge into $tablePath: unknown column(s) ${extra.mkString(", ")} — " +
        "foreign merges never evolve the schema")
    val aligned = source.select(fields.toIndexedSeq.map { f =>
      val src = byLower.getOrElse(f.name.toLowerCase,
        throw new IllegalArgumentException(
          s"merge into $tablePath: missing column ${f.name}"))
      val in = source.schema(src).dataType
      require(in == f.dataType ||
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(in, f.dataType),
        s"merge into $tablePath: column $src of type ${in.simpleString} does " +
          s"not up-cast losslessly to ${f.dataType.simpleString}")
      col(src).cast(f.dataType).as(f.name)
    }: _*).filter(col(s"`$keyName`").isNotNull)

    // Matched target rows: files joined against the source keys (a small
    // source broadcasts; a small DISTINCT key set additionally prunes the
    // file list through data skipping).
    val FileC = "__graft_foreign_mrg_file"
    val PosC = "__graft_foreign_mrg_pos"
    val srcKeys = aligned.select(col(s"`$keyName`")).distinct()
    val keySample = srcKeys.limit(1001).collect().map(_.get(0))
    val candidates =
      if (keySample.length <= 1000)
        DeltaSkipping.prune(spark, snap0,
          col(s"`$keyName`").isin(keySample.toIndexedSeq: _*))
      else snap0.files
    // The matched scan feeds several jobs (hits collect, CDF pre-images,
    // matched-key count, survivors) — cache the CDC-batch-bounded result
    // instead of re-scanning candidates per consumer (ContextCleaner
    // reclaims the blocks once the frame is unreachable).
    val matchedRows =
      if (candidates.isEmpty)
        None
      else Some(DeltaImport
        .readFilesWithPositions(spark, snap0, candidates, FileC, PosC)
        .join(srcKeys, Seq(keyName)).persist())
    // With deletionVectors advertised matched rows record as DVs; else
    // the touched files rewrite to their survivors (delta-spark's own
    // pre-DV merge shape) — every Delta table is mergeable.
    val dvSupported = snap0.protocol.exists(p =>
      p.readerFeatures.contains("deletionVectors") ||
        p.writerFeatures.contains("deletionVectors"))

    val relOfSpelling: Map[String, String] = candidates.flatMap(f =>
      DeltaImport.pathSpellings(tablePath, f.path, tx.conf).map(_ -> f.path)).toMap
    val seed = java.util.UUID.randomUUID().toString
    // Distributed DV build — matched positions aggregate into per-file
    // bitmaps on executors ([[buildForeignDvs]]); the rewrite fallback
    // needs only the touched-file SET. The driver never holds positions.
    val (touchedRels, descByRel, matchedCount) = matchedRows match {
      case None =>
        (Seq.empty[String],
          Map.empty[String, DeltaDeletionVectors.Descriptor], 0L)
      case Some(m) if dvSupported =>
        val built = buildForeignDvs(spark, tablePath, m, FileC, PosC,
          relOfSpelling,
          candidates.map(f => f.path ->
            f.deletionVector.filter(_.cardinality != 0L)).toMap, seed)
        (built.map(_.rel).sorted,
          built.map(b => b.rel -> b.desc).toMap,
          built.map(_.newHits).sum)
      case Some(m) =>
        val rels = m.select(FileC).distinct().collect()
          .map(r => relOfSpelling.getOrElse(r.getString(0),
            throw new IllegalStateException(
              s"merge into $tablePath: unmapped file spelling ${r.getString(0)}")))
          .toSeq.sorted
        (rels, Map.empty[String, DeltaDeletionVectors.Descriptor],
          if (rels.isEmpty) 0L else m.count())
    }
    val touchedSet = touchedRels.toSet

    // Stage ALL source rows (the matched keys' new images + the inserts).
    val layout = new ForeignTxn.Layout(snap0)
    tx.run {
      // Rewrite fallback: the touched files' survivors (rows whose key the
      // source does NOT carry; old DVs already applied by the scan) stage
      // as fresh files replacing the removed originals.
      val survivorStage: Option[Path] =
        if (dvSupported || touchedRels.isEmpty) None
        else {
          // Mirror deleteFromForeign: a rewrite assigns FRESH baseRowIds to
          // survivor files, silently breaking row-id stability for rows the
          // merge never touched — refuse rather than corrupt.
          require(!snap0.protocol.exists(p => p.minWriterVersion >= 7 &&
            p.writerFeatures.contains("rowTracking")),
            s"merge into $tablePath: the rewrite fallback cannot preserve " +
              "row tracking — enable delta.enableDeletionVectors instead")
          val touched = snap0.files.filter(f => touchedSet(f.path))
          val survivors = DeltaImport
            .readFilesWithPositions(spark, snap0, touched, FileC, PosC)
            .join(srcKeys, Seq(keyName), "left_anti")
            .drop(FileC, PosC)
          Some(tx.writeStaged(
            DeltaImport.physicalRender(survivors, snap0.schema),
            s"_appends/$seed-survivors", layout.partCols))
        }
      val stagePath = tx.writeStaged(
        DeltaImport.physicalRender(aligned, snap0.schema),
        s"_appends/$seed", layout.partCols)
      def stagedLogical(): org.apache.spark.sql.DataFrame = {
        val stagedPhys = spark.read.option("basePath", stagePath.toString)
          .parquet(stagePath.toString)
        DeltaImport.logicalRestore(stagedPhys, snap0.schema)
      }
      // Source uniqueness per key (delta-spark's multiple-match error),
      // checked on the staged bytes alongside constraints/nullability.
      def validate(cfg: Map[String, String]): Unit = {
        import org.apache.spark.sql.functions.{count, lit}
        val staged = stagedLogical()
        val dup = staged.groupBy(col(s"`$keyName`")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1).limit(1).collect()
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"merge into $tablePath: source has multiple rows for key " +
            s"${dup.head.get(0)} — deduplicate to latest-per-key first")
        tx.validate(staged, snap0.schema, cfg)
      }
      validate(snap0.configuration)

      // CDF: matched keys restate as update pre/post images, fresh keys as
      // inserts — classified by one join against the matched-key set.
      val cdfOn = flagOn(snap0.configuration, "delta.enableChangeDataFeed")
      val cdcRoot = tx.stage(s"_change_data/graft-$seed")
      if (cdfOn) {
        import org.apache.spark.sql.functions.lit
        def writeCdc(df: org.apache.spark.sql.DataFrame, sub: String): Unit =
          if (!df.isEmpty)
            ForeignTxn.writeParquet(df, new Path(cdcRoot, sub), layout.partCols)
        val matchedKeys = matchedRows.map(_.select(col(s"`$keyName`")).distinct())
        def phys(df: org.apache.spark.sql.DataFrame) =
          DeltaImport.physicalRender(df, snap0.schema, keep = Seq("_change_type"))
        matchedRows.foreach { m =>
          writeCdc(phys(m.drop(FileC, PosC)
            .withColumn("_change_type", lit("update_preimage"))), "pre")
        }
        matchedKeys match {
          case Some(mk) =>
            writeCdc(phys(stagedLogical().join(mk, Seq(keyName))
              .withColumn("_change_type", lit("update_postimage"))), "post")
            writeCdc(phys(stagedLogical().join(mk, Seq(keyName), "left_anti")
              .withColumn("_change_type", lit("insert"))), "ins")
          case None =>
            writeCdc(phys(stagedLogical()
              .withColumn("_change_type", lit("insert"))), "ins")
        }
      }
      val stagedFiles = tx.parquetsUnder(stagePath)
      val survivorFiles = survivorStage.map(tx.parquetsUnder).getOrElse(Nil)
      val stagedRows = stagedFiles.map(tx.footerRows).sum
      // inserted = source rows whose key matched NOTHING (a key matching
      // several target rows DV-deletes them all but contributes one image)
      val matchedKeyCount: Long = matchedRows
        .map(_.select(col(s"`$keyName`")).distinct().count()).getOrElse(0L)
      val insertedCount = stagedRows - matchedKeyCount

      tx.commit(snap0) { snap =>
        gate(snap)
        if (ForeignTxn.txnCommitted(snap, txn)) Some((snap.version, 0L, 0L))
        else {
          // A rival blind append carrying any of the source's MERGE KEYS
          // does not commute: a retried merge would insert a key the rival
          // just appended, leaving duplicate keys (delta-spark raises
          // ConcurrentAppendException). With a bounded key set the rival
          // adds prune against `key isin`; an unbounded set aborts on ANY
          // rival add — conservative, and a writer storm is re-runnable.
          if (ForeignTxn.layoutChanged(snap0, snap) ||
              ForeignTxn.filesChanged(snap0, snap, touchedRels) ||
              ForeignTxn.rivalMayMatch(spark, snap0, snap,
                if (keySample.length > 1000) None
                else Some(col(s"`$keyName`").isin(keySample.toIndexedSeq: _*))))
            throw new IllegalArgumentException(
              s"merge into $tablePath: a concurrent commit touched or " +
                "added rows being merged — re-run the merge against the new state")
          if (ForeignTxn.constraintsOf(snap.configuration) !=
              ForeignTxn.constraintsOf(snap0.configuration))
            validate(snap.configuration)
          None
        }
      } { snap =>
        ForeignTxn.Publish("MERGE",
          Map("numTargetRowsUpdated" -> matchedCount,
            "numTargetRowsInserted" -> insertedCount,
            "numTargetFilesAdded" ->
              (stagedFiles.size + survivorFiles.size).toLong,
            "numDeletionVectorsAdded" ->
              (if (dvSupported) touchedRels.size.toLong else 0L)),
          snap0.schema.json, snap.configuration,
          st => tx.touchLines(layout, snap, st.nowMs, snap0, touchedRels,
              descByRel) ++
            tx.freshAdds(layout, snap, st.version, stagedFiles ++ survivorFiles) ++
            (if (cdfOn) tx.cdcLines(layout, cdcRoot) else Nil) ++
            ForeignTxn.txnJson(txn, st.nowMs),
          v => (v, matchedCount, insertedCount))
      }
    }
  }

  /** General MERGE into a FOREIGN Delta table — delta-spark's full
    * row-level clause surface over the foreign commit path
    * ([[graft.table.MergeClause]], the same clause algebra
    * `GraftTable.mergeClausesOn` runs natively): ordered
    * `WHEN MATCHED [AND cond] THEN UPDATE SET …` / `UPDATE SET ALL`
    * (star) / `DELETE`,
    * `WHEN NOT MATCHED [AND cond] THEN INSERT …/INSERT ALL (star)`, and
    * `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …/DELETE`,
    * on a COMPOUND equi key. Within each branch the FIRST clause whose
    * condition holds claims the row; an unclaimed matched row is left
    * **physically untouched** — no DV bit, no restage — which is exactly
    * the change-detection MERGE the reference runs
    * (spark_delta_handler.py:222-236: update only when a column actually
    * differs): `Update(cond = t.x =!= s.x)` re-records nothing for
    * unchanged rows. Claimed target rows DV-delete from their files
    * through the DISTRIBUTED build ([[buildForeignDvs]] — positions never
    * reach the driver) and their new images (update assignments resolved
    * over both aliases) stage as new files together with the claimed
    * inserts, all in ONE commit; a CDF-enabled table gets
    * update_preimage/update_postimage, delete, and insert rows. The
    * matched scan prunes through data skipping when every key column has
    * ≤1000 distinct source values (conjunction of per-key isin bounds);
    * `notMatchedBySource` clauses force a full-candidate scan — the
    * whole target is in play, as in delta-spark. Foreign merges never
    * evolve the schema: assignments and insert columns must bind to
    * existing target fields (extra SOURCE columns are fine — they feed
    * clause expressions). Requires `deletionVectors` advertised (the
    * modern merge shape; [[mergeForeignUpsert]] keeps the pre-DV rewrite
    * fallback for the canonical upsert). Source must be unique per key
    * when matched clauses exist. `txn` gives the exactly-once contract of
    * [[appendToForeign]] — one stamp covering delete and upsert halves of
    * a CDC batch in one atomic commit. Returns
    * (committedVersion, rowsUpdated, rowsDeleted, rowsInserted). */
  /** `onExtra` is the compound-ON residual (`ON t.k = s.k AND t.active`):
    * it joins the MATCH condition itself, so a key-matched pair failing
    * it surfaces as a target-only row AND a source-only row — Delta's
    * semantics (the target row reaches NOT MATCHED BY SOURCE, the source
    * row reaches NOT MATCHED) — while the join still plans on the equi
    * keys with the residual as a filter, never a cartesian.
    * Generated/identity tables are writable: update images RECOMPUTE
    * generated columns over the post-assignment row and keep the
    * target's identity value; insert images compute generated columns
    * and allocate identity ids above the schema's high-water mark (the
    * commit re-publishes metaData with the advanced mark, as appends
    * do); assigning either kind refuses. */
  def mergeForeignClauses(spark: SparkSession, tablePath: String,
      source: org.apache.spark.sql.DataFrame, keys: Seq[String],
      matched: Seq[graft.table.MergeClause] = Nil,
      notMatched: Seq[graft.table.MergeClause] = Nil,
      notMatchedBySource: Seq[graft.table.MergeClause] = Nil,
      targetAlias: String = "t", sourceAlias: String = "s",
      txn: Option[(String, Long)] = None,
      onExtra: Option[org.apache.spark.sql.Column] = None)
      : (Long, Long, Long, Long) = {
    import graft.table.MergeClause
    import org.apache.spark.sql.functions.{lit, when, count}
    val tx = new ForeignTxn(spark, tablePath, s"merge into $tablePath")

    require(keys.nonEmpty, s"merge into $tablePath: needs at least one equi key")
    require(targetAlias != sourceAlias,
      s"merge into $tablePath: target and source aliases must differ")
    matched.foreach {
      case _: MergeClause.InsertAll | _: MergeClause.Insert =>
        throw new IllegalArgumentException(
          "MERGE: INSERT is not valid in the WHEN MATCHED branch")
      case _ => ()
    }
    notMatched.foreach {
      case _: MergeClause.InsertAll | _: MergeClause.Insert => ()
      case other => throw new IllegalArgumentException(
        s"MERGE: only INSERT is valid in the WHEN NOT MATCHED branch, got $other")
    }
    notMatchedBySource.foreach {
      case _: MergeClause.Update | _: MergeClause.Delete => ()
      case other => throw new IllegalArgumentException(
        "MERGE: only UPDATE SET …/DELETE are valid in the WHEN NOT MATCHED " +
          s"BY SOURCE branch, got $other")
    }

    def gate(snap: DeltaImport.Snapshot): Unit = {
      require(!flagOn(snap.configuration, "delta.appendOnly") ||
        (matched.isEmpty && notMatchedBySource.isEmpty),
        s"merge into $tablePath: the table is append-only (delta.appendOnly)")
      legacyInvariantsOf(snap.schema) // malformed document refuses up front
    }

    val snap0 = DeltaImport.snapshot(spark, tablePath)
    tx.gate(snap0)
    gate(snap0)
    // With deletionVectors advertised claimed rows record as DVs; else
    // the touched files rewrite to their survivors (delta-spark's pre-DV
    // merge shape) — every Delta table takes the full clause surface.
    val dvSupported = snap0.protocol.exists(p =>
      p.readerFeatures.contains("deletionVectors") ||
        p.writerFeatures.contains("deletionVectors"))
    if (ForeignTxn.txnCommitted(snap0, txn)) return (snap0.version, 0L, 0L, 0L)
    val fields = snap0.schema.fields
    val keyNames = keys.map { k =>
      require(fields.exists(_.name.equalsIgnoreCase(k)),
        s"merge into $tablePath: no key column named $k")
      require(source.columns.exists(_.equalsIgnoreCase(k)),
        s"merge into $tablePath: source has no key column named $k")
      fields.find(_.name.equalsIgnoreCase(k)).get.name
    }
    // Generated / identity declarations (same extraction as the append
    // path): neither kind is assignable; update images recompute
    // generated and keep identity; insert images compute generated and
    // allocate identity above the high-water mark.
    val genSpecs = generatedSpecs(fields)
    val (idSpecs, idHwm) = identitySpecs(fields)
    val engineMaintained = genSpecs.keySet ++ idSpecs.keySet
    // Assignments / explicit inserts must bind to existing target fields.
    def checkAssigned(cls: Seq[MergeClause]): Unit = cls.foreach {
      case MergeClause.Update(as, _) => as.keys.foreach { k =>
        require(fields.exists(_.name.equalsIgnoreCase(k)),
          s"merge into $tablePath: assignment to unknown column $k — " +
            "foreign merges never evolve the schema")
        require(!engineMaintained.exists(_.equalsIgnoreCase(k)),
          s"merge into $tablePath: column $k is generated/identity — its " +
            "value is engine-maintained, not assignable")
      }
      case MergeClause.Insert(as, _) => as.keys.foreach { k =>
        require(fields.exists(_.name.equalsIgnoreCase(k)),
          s"merge into $tablePath: insert into unknown column $k — " +
            "foreign merges never evolve the schema")
        require(!genSpecs.keys.exists(_.equalsIgnoreCase(k)),
          s"merge into $tablePath: column $k is generated — omit it and " +
            "let the merge compute it")
        idSpecs.foreach { case (n, (_, _, allowExplicit)) =>
          require(!k.equalsIgnoreCase(n) || allowExplicit,
            s"merge into $tablePath: identity column $n is GENERATED " +
              "ALWAYS — omit it and let the merge assign ids")
        }
      }
      case _ => ()
    }
    checkAssigned(matched); checkAssigned(notMatched)
    checkAssigned(notMatchedBySource)

    val FileC = "__graft_foreign_cmg_file"
    val PosC = "__graft_foreign_cmg_pos"
    val srcNonNull = keyNames.foldLeft(source) { (d, k) =>
      d.filter(col(s"`${source.columns.find(_.equalsIgnoreCase(k)).get}`")
        .isNotNull) }
    // Candidate files: per-key isin pruning when every key is bounded;
    // by-source clauses put the WHOLE target in play.
    val keySamples: Seq[(String, Array[Any])] = keyNames.map { k =>
      k -> srcNonNull.select(col(s"`$k`")).distinct().limit(1001)
        .collect().map(_.get(0)) }
    val keysBound: Option[org.apache.spark.sql.Column] =
      if (notMatchedBySource.nonEmpty || keySamples.exists(_._2.length > 1000))
        None
      else Some(keySamples.map { case (k, vs) =>
        col(s"`$k`").isin(vs.toIndexedSeq: _*) }.reduce(_ && _))
    val candidates = keysBound.fold(snap0.files)(DeltaSkipping.prune(spark, snap0, _))

    val tgtRows =
      if (candidates.isEmpty) None
      else Some(DeltaImport
        .readFilesWithPositions(spark, snap0, candidates, FileC, PosC))
    val srcAliased = srcNonNull.alias(sourceAlias)
    // The full MATCH condition: equi keys plus the compound-ON residual
    // (Catalyst plans the equi keys as the join and the residual as its
    // filter — never a cartesian).
    val joinCond = (keyNames.map(k =>
      col(s"$targetAlias.`$k`") === col(s"$sourceAlias.`$k`")) ++ onExtra)
      .reduce(_ && _)
    // First-match-wins claim index over a clause branch (-1 = unclaimed).
    def claimOf(clauses: Seq[MergeClause]): org.apache.spark.sql.Column =
      clauses.zipWithIndex.reverse.foldLeft(lit(-1)) { case (acc, (c, i)) =>
        when(c.condition.getOrElse(lit(true)), lit(i)).otherwise(acc) }
    val ClaimC = "__graft_cmg_claim"

    val matchedFrame = tgtRows.filter(_ => matched.nonEmpty).map { t =>
      t.alias(targetAlias).join(srcAliased, joinCond, "inner")
        .withColumn(ClaimC, claimOf(matched)).persist()
    }
    val bySourceFrame = tgtRows.filter(_ => notMatchedBySource.nonEmpty).map { t =>
      t.alias(targetAlias).join(srcAliased, joinCond, "left_anti")
        .withColumn(ClaimC, claimOf(notMatchedBySource)).persist()
    }
    val notMatchedFrame =
      if (notMatched.isEmpty) None
      else {
        // Keys-only build side when the ON is pure-equi; a residual may
        // reference any target column, so it anti-joins the full frame.
        val tgtSide = tgtRows.map { t =>
          if (onExtra.isEmpty)
            t.select(keyNames.map(k => col(s"`$k`")): _*).distinct()
          else t
        }
        val base = tgtSide match {
          case Some(tk) => srcAliased.join(tk.alias(targetAlias), joinCond,
            "left_anti")
          case None => srcNonNull.alias(sourceAlias)
        }
        Some(base.withColumn(ClaimC, claimOf(notMatched)).persist())
      }

    // Source uniqueness per key — delta-spark's multiple-match error —
    // checked only when a matched row could be claimed twice.
    if (matched.nonEmpty) {
      val dup = srcNonNull.groupBy(keyNames.map(k => col(s"`$k`")): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"merge into $tablePath: source has multiple rows for key " +
          s"${dup.headOption.map(_.toSeq.init.mkString(","))
            .getOrElse("")} — deduplicate to latest-per-key first")
    }

    def claimCounts(frame: Option[org.apache.spark.sql.DataFrame])
        : Map[Int, Long] = frame match {
      case None => Map.empty
      case Some(f) =>
        f.filter(col(ClaimC) >= 0).groupBy(ClaimC).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val mCounts = claimCounts(matchedFrame)
    val bCounts = claimCounts(bySourceFrame)
    val iCounts = claimCounts(notMatchedFrame)
    def kindTotals(clauses: Seq[MergeClause], counts: Map[Int, Long])
        : (Long, Long) = // (updates, deletes)
      clauses.zipWithIndex.foldLeft((0L, 0L)) { case ((u, d), (c, i)) =>
        c match {
          case _: MergeClause.Delete => (u, d + counts.getOrElse(i, 0L))
          case _ => (u + counts.getOrElse(i, 0L), d)
        }
      }
    val (mUpd, mDel) = kindTotals(matched, mCounts)
    val (bUpd, bDel) = kindTotals(notMatchedBySource, bCounts)
    val updatedCount = mUpd + bUpd
    val deletedCount = mDel + bDel
    val insertedCount = iCounts.values.sum
    // Zero claims and no txn to record → nothing to commit. With a txn
    // stamp the merge MUST still commit a (txn-only) version: the
    // watermark is what makes an at-least-once redelivery a no-op — an
    // unstamped empty batch re-applied later, after the owning engine
    // added matching rows, would mutate rows the CDC stream never owned.
    if (updatedCount + deletedCount + insertedCount == 0 && txn.isEmpty) {
      (matchedFrame ++ bySourceFrame ++ notMatchedFrame).foreach(_.unpersist())
      return (snap0.version, 0L, 0L, 0L)
    }

    // Claimed target rows → distributed per-file DV build.
    val relOfSpelling: Map[String, String] = candidates.flatMap(f =>
      DeltaImport.pathSpellings(tablePath, f.path, tx.conf).map(_ -> f.path)).toMap
    val seed = java.util.UUID.randomUUID().toString
    val claimedTargets: Option[org.apache.spark.sql.DataFrame] = {
      val parts = (matchedFrame.toSeq ++ bySourceFrame.toSeq).map(f =>
        f.filter(col(ClaimC) >= 0)
          .select(col(s"$targetAlias.`$FileC`").as(FileC),
            col(s"$targetAlias.`$PosC`").as(PosC)))
      parts.reduceOption(_ unionByName _)
    }
    val (touchedRels, descByRel) =
      if (dvSupported) {
        val built = claimedTargets.map(ct =>
          buildForeignDvs(spark, tablePath, ct, FileC, PosC, relOfSpelling,
            candidates.map(f => f.path ->
              f.deletionVector.filter(_.cardinality != 0L)).toMap, seed))
          .getOrElse(Nil)
        (built.map(_.rel).sorted, built.map(b => b.rel -> b.desc).toMap)
      } else {
        val rels = claimedTargets.map(_.select(FileC).distinct().collect()
          .map(r => relOfSpelling.getOrElse(r.getString(0),
            throw new IllegalStateException(
              s"merge into $tablePath: unmapped file spelling " +
                r.getString(0))))
          .toSeq.sorted).getOrElse(Nil)
        (rels, Map.empty[String, DeltaDeletionVectors.Descriptor])
      }
    val touchedSet = touchedRels.toSet

    // New images — one staged write: matched UPDATE claims (assignments
    // over both aliases), by-source UPDATE claims (target alias only),
    // and claimed inserts, all projected onto the target schema.
    // Generated columns RECOMPUTE over the projected (post-assignment)
    // image — the materialized invariant keeps holding whatever the
    // clause wrote; identity columns on update images keep the TARGET
    // value (engine-maintained, never source-overwritten).
    def regen(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      genSpecs.foldLeft(df) { case (d, (name, sql)) =>
        d.withColumn(name, org.apache.spark.sql.functions.expr(sql)
          .cast(fields.find(_.name == name).get.dataType))
      }
    def targetImage(frame: org.apache.spark.sql.DataFrame,
        clauses: Seq[MergeClause], withSource: Boolean)
        : Option[org.apache.spark.sql.DataFrame] = {
      val updates = clauses.zipWithIndex.collect {
        case (MergeClause.UpdateAll(_), i) => (i, None)
        case (MergeClause.Update(as, _), i) => (i, Some(as))
      }
      if (updates.isEmpty) return None
      Some(regen(updates.map { case (i, as) =>
        frame.filter(col(ClaimC) === i).select(fields.toIndexedSeq.map { f =>
          val tcol = col(s"$targetAlias.`${f.name}`")
          val v = as match {
            case Some(assign) => assign.collectFirst {
              case (k, vc) if k.equalsIgnoreCase(f.name) => vc
            }.getOrElse(tcol)
            case None => // UPDATE SET * — source value when present
              if (withSource && !engineMaintained.contains(f.name) &&
                  source.columns.exists(_.equalsIgnoreCase(f.name)))
                col(s"$sourceAlias.`${f.name}`")
              else tcol
          }
          v.cast(f.dataType).as(f.name)
        }: _*)
      }.reduce(_ unionByName _)))
    }
    def insertImage(frame: org.apache.spark.sql.DataFrame,
        clauses: Seq[MergeClause]): Option[org.apache.spark.sql.DataFrame] = {
      val inserts = clauses.zipWithIndex.collect {
        case (MergeClause.InsertAll(_), i) => (i, None)
        case (MergeClause.Insert(as, _), i) => (i, Some(as))
      }
      if (inserts.isEmpty) return None
      // INSERT ALL riding a source-provided identity value needs the
      // schema's explicit-insert opt-in (as foreign appends require).
      idSpecs.foreach { case (n, (_, _, allowExplicit)) =>
        require(allowExplicit ||
          !(inserts.exists(_._2.isEmpty) &&
            source.columns.exists(_.equalsIgnoreCase(n))),
          s"merge into $tablePath: identity column $n is GENERATED " +
            "ALWAYS — drop it from the source and let the merge assign ids")
      }
      val projected = inserts.map { case (i, as) =>
        frame.filter(col(ClaimC) === i).select(fields.toIndexedSeq.map { f =>
          val v = as match {
            case Some(assign) => assign.collectFirst {
              case (k, vc) if k.equalsIgnoreCase(f.name) => vc
            }.getOrElse(lit(null))
            case None =>
              if (source.columns.exists(_.equalsIgnoreCase(f.name)) &&
                  !genSpecs.contains(f.name))
                col(s"$sourceAlias.`${f.name}`")
              else lit(null)
          }
          v.cast(f.dataType).as(f.name)
        }: _*)
      }.reduce(_ unionByName _)
      // Identity fill ONCE over the unioned insert frame (ids must be
      // unique across all insert clauses): omitted/null values allocate
      // hwm + step·(1 + task-block counter), explicit values ride.
      val filled = idSpecs.foldLeft(regen(projected)) {
        case (d, (name, (_, step, _))) =>
          import org.apache.spark.sql.functions.monotonically_increasing_id
          val assign = lit(idHwm(name)) +
            lit(step) * (monotonically_increasing_id() + lit(1L))
          d.withColumn(name,
            when(col(s"`$name`").isNotNull, col(s"`$name`").cast("long"))
              .otherwise(assign))
      }
      Some(filled)
    }
    // Images stage under KIND subdirs (m = matched updates, b = by-source
    // updates, i = inserts) and every downstream consumer — validation,
    // watermark, CDF post/insert rows — reads the STAGED BYTES, never a
    // re-evaluation of the image plan: an identity fill's
    // monotonically_increasing_id is only stable within one evaluation,
    // so a second run could stamp CDF rows with ids the table never
    // committed. Branches whose clauses claimed zero rows skip staging
    // (no empty part files in the commit).
    val imageByKind: Seq[(String, org.apache.spark.sql.DataFrame)] =
      (if (mUpd > 0)
        matchedFrame.flatMap(f => targetImage(f, matched, withSource = true))
          .map("m" -> _).toSeq
      else Nil) ++
      (if (bUpd > 0)
        bySourceFrame.flatMap(f =>
          targetImage(f, notMatchedBySource, withSource = false))
          .map("b" -> _).toSeq
      else Nil) ++
      (if (insertedCount > 0)
        notMatchedFrame.flatMap(f => insertImage(f, notMatched))
          .map("i" -> _).toSeq
      else Nil)

    val layout = new ForeignTxn.Layout(snap0)
    tx.run {
      // Rewrite fallback: the touched files' UNCLAIMED rows (old DVs
      // already applied by the scan) restage as fresh files replacing the
      // removed originals — delta-spark's pre-DV merge shape.
      val survivorStage: Option[Path] =
        if (dvSupported || touchedRels.isEmpty) None
        else {
          require(!snap0.protocol.exists(p => p.minWriterVersion >= 7 &&
            p.writerFeatures.contains("rowTracking")),
            s"merge into $tablePath: the rewrite fallback cannot preserve " +
              "row tracking — enable delta.enableDeletionVectors instead")
          val touched = snap0.files.filter(f => touchedSet(f.path))
          val all = DeltaImport
            .readFilesWithPositions(spark, snap0, touched, FileC, PosC)
          val survivors = claimedTargets.map(ct =>
            all.join(ct, Seq(FileC, PosC), "left_anti")).getOrElse(all)
            .drop(FileC, PosC)
          val sPhys = DeltaImport.topLevelPhysicalNames(snap0.schema)
            .filter { case (l, p) => l != p }
            .foldLeft(survivors) { case (d, (l, p)) => d.withColumnRenamed(l, p) }
          Some(tx.writeStaged(sPhys, s"_appends/$seed-survivors",
            layout.partCols))
        }

      val stagePath = tx.stage(s"_appends/$seed")
      val stagedAny = imageByKind.nonEmpty
      imageByKind.foreach { case (kind, df) =>
        ForeignTxn.writeParquet(DeltaImport.physicalRender(df, snap0.schema),
          new Path(stagePath, kind), layout.partCols)
      }
      /** The staged bytes of one kind, PHYSICAL names (absent when the
        * branch claimed nothing). The schema is PINNED — partition values
        * come back with the table's declared types, not inference's (a
        * string partition value '00123' must not re-type to int 123 on
        * its way into the CDF files). */
      def stagedKind(kind: String): Option[org.apache.spark.sql.DataFrame] =
        imageByKind.collectFirst { case (k, _) if k == kind =>
          val p = new Path(stagePath, kind)
          spark.read.schema(layout.physSchema)
            .option("basePath", p.toString).parquet(p.toString)
        }
      def stagedLogical(): org.apache.spark.sql.DataFrame = {
        val stagedPhys = imageByKind.map { case (k, _) => stagedKind(k).get }
          .reduce(_ unionByName _)
        DeltaImport.logicalRestore(stagedPhys, snap0.schema)
      }
      def validate(cfg: Map[String, String]): Unit =
        if (stagedAny) tx.validate(stagedLogical(), snap0.schema, cfg)
      validate(snap0.configuration)
      // Advanced identity watermark over the staged bytes (directional —
      // see [[advancedHwms]]); the commit re-publishes metaData with it,
      // as appends do.
      val newHwms: Map[String, Long] =
        if (idSpecs.isEmpty || !stagedAny) Map.empty
        else advancedHwms(stagedLogical(), idSpecs, idHwm)

      // CDF rows, classified straight from the claim frames.
      val cdfOn = flagOn(snap0.configuration, "delta.enableChangeDataFeed")
      val cdcRoot = tx.stage(s"_change_data/graft-$seed")
      if (cdfOn) {
        def phys(df: org.apache.spark.sql.DataFrame) =
          DeltaImport.physicalRender(df, snap0.schema, keep = Seq("_change_type"))
        def writeCdc(df: org.apache.spark.sql.DataFrame, sub: String): Unit =
          if (!df.isEmpty)
            ForeignTxn.writeParquet(df, new Path(cdcRoot, sub), layout.partCols)
        def tgtCols(frame: org.apache.spark.sql.DataFrame) =
          frame.select(fields.toIndexedSeq.map(f =>
            col(s"$targetAlias.`${f.name}`").as(f.name)): _*)
        def claimsOfKind(frame: Option[org.apache.spark.sql.DataFrame],
            clauses: Seq[MergeClause], wantDelete: Boolean) = frame.map { f =>
          val idxs = clauses.zipWithIndex.collect {
            case (_: MergeClause.Delete, i) if wantDelete => i
            case (c, i) if !wantDelete && !c.isInstanceOf[MergeClause.Delete] => i
          }
          f.filter(col(ClaimC).isin(idxs.map(Int.box): _*))
        }
        // pre-images: updated rows; delete rows; post-images re-derive from
        // the update projection (exactly what was staged for those claims)
        claimsOfKind(matchedFrame, matched, wantDelete = false).foreach(f =>
          writeCdc(phys(tgtCols(f)
            .withColumn("_change_type", lit("update_preimage"))), "pre-m"))
        claimsOfKind(bySourceFrame, notMatchedBySource, wantDelete = false)
          .foreach(f => writeCdc(phys(tgtCols(f)
            .withColumn("_change_type", lit("update_preimage"))), "pre-b"))
        claimsOfKind(matchedFrame, matched, wantDelete = true).foreach(f =>
          writeCdc(phys(tgtCols(f)
            .withColumn("_change_type", lit("delete"))), "del-m"))
        claimsOfKind(bySourceFrame, notMatchedBySource, wantDelete = true)
          .foreach(f => writeCdc(phys(tgtCols(f)
            .withColumn("_change_type", lit("delete"))), "del-b"))
        // Post/insert images restate the STAGED bytes (already physical) —
        // bit-identical to the committed rows by construction, never a
        // re-evaluation of the image plan.
        stagedKind("m").foreach(df => writeCdc(
          df.withColumn("_change_type", lit("update_postimage")), "post-m"))
        stagedKind("b").foreach(df => writeCdc(
          df.withColumn("_change_type", lit("update_postimage")), "post-b"))
        stagedKind("i").foreach(df => writeCdc(
          df.withColumn("_change_type", lit("insert")), "ins"))
      }

      val stagedFiles = if (stagedAny) tx.parquetsUnder(stagePath) else Nil
      val survivorFiles = survivorStage.map(tx.parquetsUnder).getOrElse(Nil)
      (matchedFrame ++ bySourceFrame ++ notMatchedFrame).foreach(_.unpersist())

      tx.commit(snap0) { snap =>
        gate(snap)
        if (ForeignTxn.txnCommitted(snap, txn))
          Some((snap.version, 0L, 0L, 0L))
        else {
          // Rival adds conflict unless provably key-disjoint (see
          // mergeForeignUpsert); by-source clauses read the whole target,
          // so ANY rival data change conflicts there.
          if (ForeignTxn.layoutChanged(snap0, snap) ||
              ForeignTxn.filesChanged(snap0, snap, touchedRels) ||
              ForeignTxn.rivalMayMatch(spark, snap0, snap, keysBound))
            throw new IllegalArgumentException(
              s"merge into $tablePath: a concurrent commit touched or " +
                "added rows being merged — re-run the merge against the new state")
          if (ForeignTxn.constraintsOf(snap.configuration) !=
              ForeignTxn.constraintsOf(snap0.configuration))
            validate(snap.configuration)
          None
        }
      } { snap =>
        ForeignTxn.Publish("MERGE",
          Map("numTargetRowsUpdated" -> updatedCount,
            "numTargetRowsDeleted" -> deletedCount,
            "numTargetRowsInserted" -> insertedCount,
            "numTargetFilesAdded" ->
              (stagedFiles.size + survivorFiles.size).toLong,
            "numDeletionVectorsAdded" ->
              (if (dvSupported) touchedRels.size.toLong else 0L)),
          snap0.schema.json, snap.configuration,
          st => tx.hwmMetaData(snap, newHwms) ++
            tx.touchLines(layout, snap, st.nowMs, snap0, touchedRels,
              descByRel) ++
            tx.freshAdds(layout, snap, st.version, stagedFiles ++ survivorFiles) ++
            (if (cdfOn) tx.cdcLines(layout, cdcRoot) else Nil) ++
            ForeignTxn.txnJson(txn, st.nowMs),
          v => (v, updatedCount, deletedCount, insertedCount))
      }
    }
  }

  /** Generated columns of a foreign schema: name → its
    * `delta.generationExpression`. */
  private def generatedSpecs(fields: Array[StructField]): Map[String, String] =
    fields.iterator.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        f.name -> f.metadata.getString("delta.generationExpression")
    }.toMap

  /** Identity columns of a foreign schema: name → (start, step,
    * allowExplicitInsert), and name → current high-water mark (start − step
    * before the first allocation). */
  private def identitySpecs(fields: Array[StructField])
      : (Map[String, (Long, Long, Boolean)], Map[String, Long]) = {
    val ids = fields.filter(_.metadata.contains("delta.identity.start"))
    val specs = ids.map { f =>
      val md = f.metadata
      f.name -> ((md.getLong("delta.identity.start"),
        if (md.contains("delta.identity.step"))
          md.getLong("delta.identity.step") else 1L,
        md.contains("delta.identity.allowExplicitInsert") &&
          md.getBoolean("delta.identity.allowExplicitInsert")))
    }.toMap
    val hwms = ids.map { f =>
      f.name -> (if (f.metadata.contains("delta.identity.highWaterMark"))
        f.metadata.getLong("delta.identity.highWaterMark")
      else specs(f.name)._1 - specs(f.name)._2)
    }.toMap
    (specs, hwms)
  }

  /** Advanced identity watermark over the staged bytes. The mark is
    * DIRECTIONAL: with a positive step it is the MAX allocated value,
    * with a negative step (delta-spark's `INCREMENT BY -5`) the MIN —
    * taking max unconditionally would never advance a descending
    * sequence and successive writers would re-allocate the same ids.
    * Update images carry existing ids inside the mark, so one global
    * directional extreme is correct. */
  private def advancedHwms(staged: org.apache.spark.sql.DataFrame,
      idSpecs: Map[String, (Long, Long, Boolean)],
      idHwm: Map[String, Long]): Map[String, Long] = {
    if (idSpecs.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{max, min}
    val names = idSpecs.keys.toSeq.sorted
    val aggs = names.map(n =>
      (if (idSpecs(n)._2 >= 0) max(col(s"`$n`"))
       else min(col(s"`$n`"))).as(n))
    val row = staged.agg(aggs.head, aggs.tail: _*).collect().head
    names.zipWithIndex.flatMap { case (n, i) =>
      if (row.isNullAt(i)) None
      else {
        val step = idSpecs(n)._2
        val cand = row.getLong(i)
        val cur = idHwm(n)
        if (if (step >= 0) cand > cur else cand < cur) Some(n -> cand)
        else None
      }
    }.toMap
  }

  /** One built deletion vector: the file's log-relative path, its new
    * descriptor (positions = prior DV ∪ this verb's hits), and how many
    * NEW positions this verb contributed. */
  private final case class BuiltDv(rel: String,
      desc: DeltaDeletionVectors.Descriptor, newHits: Long)

  /** DISTRIBUTED per-file DV build for the foreign mutation verbs —
    * replaces the driver-side collect of every matched (file, pos) pair:
    * positions shuffle ONCE keyed by file (each file's positions land
    * whole in one partition, sorted), executors fold them straight into
    * compressed RoaringBitmaps ([[DeltaDeletionVectors.BitmapBuilder]] —
    * never an 8-bytes-per-row array), union the file's PRIOR DV there
    * (descriptors ride a broadcast, bitmap bytes are read task-side), and
    * each non-empty partition writes ONE DV file; only per-file
    * DESCRIPTORS return to the driver. Driver memory is file-count-sized
    * regardless of the predicate's selectivity — a 10% DELETE on a 100 TB
    * table no longer funnels billions of positions through one driver
    * array (the shape of graft's native `deletePositionalCore` and of
    * delta-spark's own DV writer). Task-retry-safe: partition content is
    * deterministic (hash partition + sort on unique (file,pos)), and the
    * DV file name derives from (seed, partitionId), so a retried task
    * converges on the identical file and write-once reuses it. */
  private def buildForeignDvs(spark: SparkSession, tablePath: String,
      matched: org.apache.spark.sql.DataFrame, fileCol: String,
      posCol: String, relOfSpelling: Map[String, String],
      priorDvByRel: Map[String, Option[DeltaDeletionVectors.Descriptor]],
      seed: String): Seq[BuiltDv] = {
    import spark.implicits._
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val bSpell = spark.sparkContext.broadcast(relOfSpelling)
    val bPrior = spark.sparkContext.broadcast(priorDvByRel)
    matched.select(col(fileCol), col(posCol)).as[(String, Long)]
      .repartition(col(fileCol))
      .sortWithinPartitions(fileCol, posCol)
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val entries = Seq.newBuilder[(String, Array[Byte], Long)]
          val newHits = scala.collection.mutable.Map.empty[String, Long]
          var curSpelling: String = null
          var rel: String = null
          var builder: DeltaDeletionVectors.BitmapBuilder = null
          var hits = 0L
          def flush(): Unit = if (builder != null) {
            bPrior.value.getOrElse(rel, None).foreach { d =>
              DeltaDeletionVectors.readPositions(d, tablePath, hconf.value)
                .foreach(builder.add)
            }
            entries += ((rel, builder.serialize(), builder.cardinality))
            newHits(rel) = hits
          }
          it.foreach { case (f, p) =>
            if (f != curSpelling) {
              flush()
              curSpelling = f
              rel = bSpell.value.getOrElse(f,
                throw new IllegalStateException(
                  s"DV build for $tablePath: unmapped file spelling $f"))
              builder = new DeltaDeletionVectors.BitmapBuilder
              hits = 0L
            }
            builder.add(p); hits += 1
          }
          flush()
          val built = entries.result()
          val descs = DeltaDeletionVectors.writeSerializedFile(
            built, tablePath, s"$seed-p$pid", hconf.value)
          built.iterator.map { case (r, _, card) =>
            val d = descs(r)
            (r, d.pathOrInlineDv, d.offset.getOrElse(1), d.sizeInBytes,
              card, newHits(r))
          }
        }
      }
      .collect().toSeq
      .map { case (r, enc, off, size, card, nh) =>
        BuiltDv(r,
          DeltaDeletionVectors.Descriptor("u", enc, Some(off), size, card),
          nh)
      }
  }

  /** DISTRIBUTED cumulative-DV build for the MIRROR export — the graft→
    * Delta twin of [[buildForeignDvs]]: graft's positional-delete state
    * lives in parquet DV dirs as (file, pos) rows, and the mirror needs
    * each changed file's FULL position set re-encoded as a Delta `u`
    * descriptor. Positions never visit the driver: rows are mapped to
    * log-relative paths, filtered to `wanted` (the changed files visible
    * in the commit), shuffled ONCE keyed by file (each file's positions
    * land whole in one partition, sorted), folded straight into
    * compressed RoaringBitmaps on executors, and each non-empty partition
    * writes ONE DV file under the table root; only per-file DESCRIPTORS
    * return. Driver memory is changed-file-count-sized regardless of how
    * broad the native MoR delete was — a 10% `deletePositional` on a
    * 100 TB table mirrors as descriptors, not a position array (the same
    * contract the foreign verbs gained in round 10). Duplicate positions
    * across DV dirs collapse in the bitmap (add is idempotent), so
    * cardinality is exact without a pre-distinct. Task-retry-safe for the
    * same reason as [[buildForeignDvs]]: partition content is
    * deterministic (hash partition + sort) and the DV file name derives
    * from (seed, partitionId), so a retry converges on the identical
    * write-once file. */
  private def buildMirrorDvs(spark: SparkSession, tableRoot: String,
      dvDirPaths: Seq[String], rootPathStr: String, wanted: Set[String],
      seed: String): Map[String, DeltaDeletionVectors.Descriptor] = {
    if (wanted.isEmpty || dvDirPaths.isEmpty)
      Map.empty[String, DeltaDeletionVectors.Descriptor]
    else {
      import spark.implicits._
      val hconf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val bWanted = spark.sparkContext.broadcast(wanted)
      val rootPrefix = rootPathStr
      spark.read.parquet(dvDirPaths: _*)
        .select(col("file"), col("pos")).as[(String, Long)]
        .map { case (abs, pos) =>
          val p = try Option(new java.net.URI(abs).getPath).getOrElse(abs)
            catch { case scala.util.control.NonFatal(_) => abs }
          (p.stripPrefix(rootPrefix).stripPrefix("/"), pos)
        }
        .filter(r => bWanted.value.contains(r._1))
        .toDF("rel", "pos")
        .repartition(col("rel"))
        .sortWithinPartitions("rel", "pos")
        .as[(String, Long)]
        .mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val entries = Seq.newBuilder[(String, Array[Byte], Long)]
            var cur: String = null
            var builder: DeltaDeletionVectors.BitmapBuilder = null
            def flush(): Unit = if (builder != null)
              entries += ((cur, builder.serialize(), builder.cardinality))
            it.foreach { case (rel, pos) =>
              if (rel != cur) {
                flush()
                cur = rel
                builder = new DeltaDeletionVectors.BitmapBuilder
              }
              builder.add(pos)
            }
            flush()
            val built = entries.result()
            val descs = DeltaDeletionVectors.writeSerializedFile(
              built, tableRoot, s"$seed-p$pid", hconf.value)
            built.iterator.map { case (r, _, card) =>
              val d = descs(r)
              (r, d.pathOrInlineDv, d.offset.getOrElse(1), d.sizeInBytes, card)
            }
          }
        }
        .collect()
        .map { case (r, enc, off, size, card) =>
          r -> DeltaDeletionVectors.Descriptor("u", enc, Some(off), size, card)
        }.toMap
    }
  }

  /** DELETE from a FOREIGN Delta table by deletion vectors — the writer
    * verb a retention/erasure job needs on a shared lakehouse table
    * ([[appendToForeign]] is the other half): rows matching `predicate`
    * are recorded deleted WITHOUT rewriting any data file, as delta-spark
    * does with `delta.enableDeletionVectors=true`. Per touched file the
    * commit re-adds the same path with a DV union-ing the file's previous
    * positions and the new hits (remove+add, `dataChange=true`, stats
    * declared non-tight), and a CDF-enabled table gets `cdc` actions
    * restating the deleted rows. Matching rows are found by ONE scan of
    * the skipping-pruned candidate files (partition values ride the
    * broadcast file→value map); positions fold into bitmaps ON THE
    * EXECUTORS ([[buildForeignDvs]] — one shuffle keyed by file, DV files
    * written task-side), so the driver sees only per-file descriptors
    * regardless of the delete's selectivity. Concurrency: same
    * optimistic loop as appends, but a
    * lost race only retries when the winner left every touched file
    * byte-identical (same path, same DV) — anything else refuses with a
    * re-run message, exactly Delta's conflict rule for row-level ops.
    * A table WITHOUT `deletionVectors` advertised falls back to
    * delta-spark's own pre-DV shape — touched files removed, their
    * survivors restaged (refused only for row-tracked tables, whose ids a
    * rewrite cannot preserve); refuses `delta.appendOnly` tables. Returns
    * (committedVersion, rowsDeleted) — a no-match delete commits nothing
    * and returns the current version. */
  def deleteFromForeign(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column): (Long, Long) = {
    val tx = new ForeignTxn(spark, tablePath, s"delete from $tablePath")
    def gate(snap: DeltaImport.Snapshot): Unit =
      require(!flagOn(snap.configuration, "delta.appendOnly"),
        s"delete from $tablePath: the table is append-only (delta.appendOnly)")

    val snap0 = DeltaImport.snapshot(spark, tablePath)
    tx.gate(snap0)
    gate(snap0)
    val FileC = "__graft_foreign_del_file"
    val PosC = "__graft_foreign_del_pos"
    val candidates = DeltaSkipping.prune(spark, snap0, predicate)
    if (candidates.isEmpty) return (snap0.version, 0L)
    val matchedRows = DeltaImport
      .readFilesWithPositions(spark, snap0, candidates, FileC, PosC)
      .filter(predicate)
      .persist() // consumed by several jobs; batch-bounded, GC-reclaimed
    // With deletionVectors advertised the hits record as DVs (no file
    // rewritten); otherwise fall back to delta-spark's own pre-DV shape:
    // touched files are REMOVED and their surviving rows rewritten —
    // every Delta table is deletable, DVs just make it cheaper.
    val dvSupported = snap0.protocol.exists(p =>
      p.readerFeatures.contains("deletionVectors") ||
        p.writerFeatures.contains("deletionVectors"))

    // file_path spelling → the snapshot's log-relative path
    val relOfSpelling: Map[String, String] = candidates.flatMap(f =>
      DeltaImport.pathSpellings(tablePath, f.path, tx.conf).map(_ -> f.path)).toMap
    val seed = java.util.UUID.randomUUID().toString
    // Touched files and their DVs come back DESCRIPTOR-sized: positions
    // aggregate into per-file bitmaps on executors ([[buildForeignDvs]]);
    // the rewrite fallback needs only the touched-file SET (one distinct
    // over the file column) — the driver never holds row positions.
    val (touchedRels, descByRel, deletedCount) =
      if (dvSupported) {
        val built = buildForeignDvs(spark, tablePath, matchedRows, FileC,
          PosC, relOfSpelling,
          candidates.map(f => f.path ->
            f.deletionVector.filter(_.cardinality != 0L)).toMap, seed)
        (built.map(_.rel).sorted,
          built.map(b => b.rel -> b.desc).toMap,
          built.map(_.newHits).sum)
      } else {
        val rels = matchedRows.select(FileC).distinct().collect()
          .map(r => relOfSpelling.getOrElse(r.getString(0),
            throw new IllegalStateException(
              s"delete from $tablePath: unmapped file spelling ${r.getString(0)}")))
          .toSeq.sorted
        (rels, Map.empty[String, DeltaDeletionVectors.Descriptor],
          if (rels.isEmpty) 0L else matchedRows.count())
      }
    if (touchedRels.isEmpty) return (snap0.version, 0L)
    val touchedSet = touchedRels.toSet

    val layout = new ForeignTxn.Layout(snap0)
    tx.run {
      // CDF: cdc actions restate the deleted rows (physical names on disk,
      // partitioned like the table — Delta stamps version/timestamp itself).
      val cdfOn = flagOn(snap0.configuration, "delta.enableChangeDataFeed")
      val cdcRoot = tx.stage(s"_change_data/graft-$seed")
      if (cdfOn)
        ForeignTxn.writeParquet(DeltaImport.physicalRender(
          matchedRows.drop(FileC, PosC)
            .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")),
          snap0.schema, keep = Seq("_change_type")), cdcRoot, layout.partCols)
      // Rewrite fallback: without DV support the touched files' SURVIVORS
      // stage as fresh files (old DVs already applied by the scan; rows the
      // predicate selects — null included, which never matches — drop out).
      val survivorFiles =
        if (dvSupported) Nil
        else {
          // A row-tracked rewrite would need fresh base ids for the
          // survivor files; such tables should take the DV path.
          require(!snap0.protocol.exists(p => p.minWriterVersion >= 7 &&
            p.writerFeatures.contains("rowTracking")),
            s"delete from $tablePath: the rewrite fallback cannot preserve " +
              "row tracking — enable delta.enableDeletionVectors instead")
          val touched = snap0.files.filter(f => touchedSet(f.path))
          val survivors = DeltaImport
            .readFilesWithPositions(spark, snap0, touched, FileC, PosC)
            .filter(!org.apache.spark.sql.functions.coalesce(predicate,
              org.apache.spark.sql.functions.lit(false)))
            .drop(FileC, PosC)
          tx.parquetsUnder(tx.writeStaged(
            DeltaImport.physicalRender(survivors, snap0.schema),
            s"_appends/$seed-survivors", layout.partCols))
        }

      tx.commit[(Long, Long)](snap0) { snap =>
        gate(snap)
        // Row-level ops retry only a TRIVIAL race: the winner must have
        // left every touched file byte-identical (same path, same DV).
        // A rival BLIND APPEND whose rows match the predicate does not
        // commute either: a retried DELETE would commit while missing
        // those rows — delta-spark raises ConcurrentAppendException for
        // exactly this. Files added since snap0 prune against the
        // predicate; any possible match aborts with the re-run message
        // (a file without stats conservatively "may match").
        if (ForeignTxn.layoutChanged(snap0, snap) ||
            ForeignTxn.filesChanged(snap0, snap, touchedRels) ||
            ForeignTxn.rivalMayMatch(spark, snap0, snap, Some(predicate)))
          throw new IllegalArgumentException(
            s"delete from $tablePath: a concurrent commit touched or added " +
              "rows being deleted — re-run the delete against the new state")
        None
      } { snap =>
        ForeignTxn.Publish("DELETE",
          Map("numDeletedRows" -> deletedCount,
            "numDeletionVectorsAdded" ->
              (if (dvSupported) touchedRels.size.toLong else 0L),
            "numRemovedFiles" ->
              (if (dvSupported) 0L else touchedRels.size.toLong)),
          snap0.schema.json, snap.configuration,
          st => tx.touchLines(layout, snap, st.nowMs, snap0, touchedRels,
              descByRel) ++
            tx.freshAdds(layout, snap, st.version, survivorFiles) ++
            (if (cdfOn) tx.cdcLines(layout, cdcRoot) else Nil),
          v => (v, deletedCount))
      }
    }
  }

  /** UPDATE on a FOREIGN Delta table — the third writer verb, in
    * delta-spark's DV-update shape: matching rows are DV-deleted from
    * their files (untouched rows never rewrite) and their updated copies
    * land as NEW data files, both in ONE commit; a CDF-enabled table gets
    * `update_preimage`/`update_postimage` cdc actions. Assignments cast
    * to the column's declared type (ANSI mode surfaces overflow loudly);
    * CHECK / NOT NULL validate against the STAGED updated copies before
    * the commit publishes — legacy `delta.invariants` included (updated
    * rows are new rows, those obligations bind). Requires
    * `deletionVectors` advertised (as [[deleteFromForeign]]); refuses
    * appendOnly tables, partition-column assignments (rows would cross
    * partitions) and assignments TO generated/identity columns (their
    * values are engine-computed: generated columns recompute from the
    * post-assignment row instead). Row-tracked tables: re-adds preserve
    * their baseRowId, updated
    * copies get FRESH ids above the high-water mark — the protocol-
    * conformant fresh assignment (id stability across updates needs the
    * materialized id columns only the owning engine maintains). Returns
    * (committedVersion, rowsUpdated). */
  def updateForeign(spark: SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): (Long, Long) = {
    val tx = new ForeignTxn(spark, tablePath, s"update of $tablePath")
    def gate(snap: DeltaImport.Snapshot): Unit = {
      require(!flagOn(snap.configuration, "delta.appendOnly"),
        s"update of $tablePath: the table is append-only (delta.appendOnly)")
      require(snap.protocol.exists(p =>
        p.readerFeatures.contains("deletionVectors") ||
          p.writerFeatures.contains("deletionVectors")),
        s"update of $tablePath: the table does not advertise deletion " +
          "vectors — enable delta.enableDeletionVectors on the owning " +
          "engine, or run the update there")
      legacyInvariantsOf(snap.schema) // malformed document refuses up front
    }

    val snap0 = DeltaImport.snapshot(spark, tablePath)
    tx.gate(snap0)
    gate(snap0)
    val fields = snap0.schema.fields
    assignments.keys.foreach(k => require(
      fields.exists(_.name.equalsIgnoreCase(k)),
      s"update of $tablePath: no column named $k"))
    require(!snap0.partitionColumns.exists(pc =>
      assignments.keys.exists(_.equalsIgnoreCase(pc))),
      s"update of $tablePath: assigning a partition column moves rows " +
        "across partitions — delete + insert through the owning engine")
    // Generated / identity obligations on the updated copies: a
    // generated column RECOMPUTES from its expression over the row's
    // post-assignment values (delta-spark's UPDATE contract — the
    // materialized invariant must keep holding); identity values ride
    // verbatim (an update creates no new row). Neither is assignable.
    val genSpecs = generatedSpecs(fields)
    (genSpecs.keySet ++ identitySpecs(fields)._1.keySet).foreach(n =>
      require(!assignments.keys.exists(_.equalsIgnoreCase(n)),
        s"update of $tablePath: column $n is generated/identity — its " +
          "value is engine-maintained, not assignable"))

    val FileC = "__graft_foreign_upd_file"
    val PosC = "__graft_foreign_upd_pos"
    val candidates = DeltaSkipping.prune(spark, snap0, predicate)
    if (candidates.isEmpty) return (snap0.version, 0L)
    val matchedRows = DeltaImport
      .readFilesWithPositions(spark, snap0, candidates, FileC, PosC)
      .filter(predicate)
      .persist() // consumed by several jobs; batch-bounded, GC-reclaimed
    val relOfSpelling: Map[String, String] = candidates.flatMap(f =>
      DeltaImport.pathSpellings(tablePath, f.path, tx.conf).map(_ -> f.path)).toMap
    val seed = java.util.UUID.randomUUID().toString
    // Distributed DV build — positions never reach the driver (see
    // [[buildForeignDvs]]); only per-file descriptors come back.
    val built = buildForeignDvs(spark, tablePath, matchedRows, FileC, PosC,
      relOfSpelling,
      candidates.map(f => f.path ->
        f.deletionVector.filter(_.cardinality != 0L)).toMap, seed)
    if (built.isEmpty) return (snap0.version, 0L)
    val touchedRels = built.map(_.rel).sorted
    val descByRel = built.map(b => b.rel -> b.desc).toMap
    val updatedCount = built.map(_.newHits).sum

    // The updated copies stage exactly like an append; generated columns
    // recompute over the POST-assignment row.
    val layout = new ForeignTxn.Layout(snap0)
    val assigned = matchedRows.drop(FileC, PosC).select(
      fields.toIndexedSeq.map { f =>
        assignments.collectFirst {
          case (k, vc) if k.equalsIgnoreCase(f.name) =>
            vc.cast(f.dataType).as(f.name)
        }.getOrElse(col(s"`${f.name}`"))
      }: _*)
    val updated = genSpecs.foldLeft(assigned) { case (d, (name, sql)) =>
      d.withColumn(name, org.apache.spark.sql.functions.expr(sql)
        .cast(fields.find(_.name == name).get.dataType))
    }
    tx.run {
      val stagePath = tx.writeStaged(
        DeltaImport.physicalRender(updated, snap0.schema),
        s"_appends/$seed", layout.partCols)
      def stagedLogical(): org.apache.spark.sql.DataFrame = {
        val stagedPhys = spark.read.option("basePath", stagePath.toString)
          .parquet(stagePath.toString)
        DeltaImport.logicalRestore(stagedPhys, snap0.schema)
      }
      def validate(cfg: Map[String, String]): Unit =
        tx.validate(stagedLogical(), snap0.schema, cfg)
      validate(snap0.configuration)

      // CDF: pre-images from the matched scan, post-images from the staged
      // bytes, each under its own subdir of one cdc root.
      val cdfOn = flagOn(snap0.configuration, "delta.enableChangeDataFeed")
      val cdcRoot = tx.stage(s"_change_data/graft-$seed")
      if (cdfOn) {
        def writeCdc(df: org.apache.spark.sql.DataFrame, sub: String): Unit =
          ForeignTxn.writeParquet(df, new Path(cdcRoot, sub), layout.partCols)
        writeCdc(DeltaImport.physicalRender(matchedRows.drop(FileC, PosC)
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("update_preimage")),
          snap0.schema, keep = Seq("_change_type")), "pre")
        writeCdc(DeltaImport.physicalRender(stagedLogical()
          .withColumn("_change_type",
            org.apache.spark.sql.functions.lit("update_postimage")),
          snap0.schema, keep = Seq("_change_type")), "post")
      }
      val stagedFiles = tx.parquetsUnder(stagePath)

      tx.commit[(Long, Long)](snap0) { snap =>
        gate(snap)
        // Rival blind appends matching the predicate conflict too — a
        // retried UPDATE would miss their rows (see deleteFromForeign).
        if (ForeignTxn.layoutChanged(snap0, snap) ||
            ForeignTxn.filesChanged(snap0, snap, touchedRels) ||
            ForeignTxn.rivalMayMatch(spark, snap0, snap, Some(predicate)))
          throw new IllegalArgumentException(
            s"update of $tablePath: a concurrent commit touched or " +
              "added rows being updated — re-run the update against the new state")
        if (ForeignTxn.constraintsOf(snap.configuration) !=
            ForeignTxn.constraintsOf(snap0.configuration))
          validate(snap.configuration)
        None
      } { snap =>
        ForeignTxn.Publish("UPDATE",
          Map("numUpdatedRows" -> updatedCount,
            "numFiles" -> stagedFiles.size.toLong,
            "numDeletionVectorsAdded" -> touchedRels.size.toLong),
          snap0.schema.json, snap.configuration,
          st => tx.touchLines(layout, snap, st.nowMs, snap0, touchedRels,
              descByRel) ++
            tx.freshAdds(layout, snap, st.version, stagedFiles) ++
            (if (cdfOn) tx.cdcLines(layout, cdcRoot) else Nil),
          v => (v, updatedCount))
      }
    }
  }

  /** `add.path`/`remove.path` are percent-encoded relative URIs per the
    * Delta protocol (readers open them with `new Path(new URI(p))` —
    * including [[DeltaImport.resolveFile]]); hive-escaped `%XX` in the
    * on-disk dir names round-trips through `%25XX`. */
  private[sources] def encodePath(rel: String): String =
    try new java.net.URI(null, null, rel, null).getRawPath
    catch { case scala.util.control.NonFatal(_) => rel }

  // ------------------------------------------------------------- actions

  private[sources] def commitInfoJson(c: Commit, ict: Option[Long] = None): String = {
    val metrics = JObject(c.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> (JString(v.toString): JValue) }: _*)
    JsonMethods.compact(JObject("commitInfo" -> JObject(
      List("timestamp" -> (JLong(c.tsMs): JValue)) ++
      // the monotonic in-commit instant — what ICT-aware readers use for
      // timestamp travel and CDF stamps instead of file/commit metadata
      ict.map(t => "inCommitTimestamp" -> (JLong(t): JValue)).toList ++
      List(
        "operation" -> (JString(deltaOpName(c.operation)): JValue),
        "operationParameters" -> (JObject(): JValue),
        "isolationLevel" -> (JString("Serializable"): JValue),
        "isBlindAppend" -> (JBool(c.operation == "APPEND" ||
          c.operation == "COPY INTO"): JValue),
        "operationMetrics" -> (metrics: JValue),
        "engineInfo" -> (JString("graft-delta-export/0.6"): JValue),
        "txnId" -> (JString(java.util.UUID.nameUUIDFromBytes(
          s"graft-commit-${c.version}-${c.tsMs}"
            .getBytes(StandardCharsets.UTF_8)).toString): JValue)): _*)))
  }

  /** Graft op → the operation string a Delta writer would record. */
  private def deltaOpName(op: String): String = op match {
    case "CREATE" => "WRITE"
    case "APPEND" => "WRITE"
    case other => other // MERGE / DELETE / UPDATE / OPTIMIZE / RESTORE / WRITE
  }

  /** Writer capabilities this export actually uses — ONE list feeding both
    * protocol shapes, so a feature-listed (writer-7) protocol never omits
    * a feature the log then exercises (spec-strict clients reject that):
    * the change feed is always advertised and cdc actions written;
    * constraints / generated / identity columns when the table declares
    * them. */
  private def writerFeaturesOf(schema: StructType,
      props: Map[String, String]): Seq[String] =
    Seq("changeDataFeed") ++
      (if (hasNtz(schema)) Seq("timestampNtz") else Nil) ++
      (if (props.keys.exists(_.startsWith(GraftTable.ConstraintPrefix)))
        Seq("checkConstraints") else Nil) ++
      (if (props.keys.exists(_.startsWith(GraftTable.GeneratedColPrefix)))
        Seq("generatedColumns") else Nil) ++
      (if (props.keys.exists(_.startsWith(GraftTable.IdentitySpecPrefix)))
        Seq("identityColumns") else Nil) ++
      (if (props.keys.exists(_.startsWith(GraftTable.DefaultPrefix)))
        Seq("allowColumnDefaults") else Nil) ++
      // Row tracking is writer-gated (plus domainMetadata, which carries
      // its high-water mark) — WRITER features only, never readerFeatures.
      (if (rowTrackingOn(props)) Seq("rowTracking", "domainMetadata") else Nil) ++
      // In-commit timestamps: writer-only too (legacy readers simply keep
      // using file-timestamp rules; spec-aware ones read commitInfo).
      (if (ictOnProps(props)) Seq("inCommitTimestamp") else Nil) ++
      // Liquid clustering: writer-only (the layout is invisible to
      // readers); the declaration itself rides as `delta.clustering`
      // domain metadata, hence domainMetadata joins the list.
      (if (clusterByOn(props)) Seq("clustering", "domainMetadata") else Nil)

  /** The graft table declares row tracking ([[GraftTable.RowIdCol]]'s
    * contract) — the mirror then carries Delta's own `rowTracking`
    * feature: `baseRowId`/`defaultRowCommitVersion` on every add, the
    * high-water mark as `delta.rowTracking` domain metadata, and the
    * materialized-column names in the configuration. Bases replicate the
    * graft fold EXACTLY (same dirs in first-appearance order, same footer
    * row counts, same path-sorted file order), so a Delta reader computes
    * the SAME id for every row that `readWithRowIds()` reports. */
  private def rowTrackingOn(props: Map[String, String]): Boolean =
    props.get("graft.rowTracking").exists(_.equalsIgnoreCase("true"))

  private def ictOnProps(props: Map[String, String]): Boolean =
    flagOn(props, "delta.enableInCommitTimestamps")

  /** A boolean table property read the way Delta reads it (`toBoolean`:
    * "true" in any letter case). */
  private[sources] def flagOn(props: Map[String, String], key: String): Boolean =
    props.get(key).exists(_.equalsIgnoreCase("true"))

  /** The graft table declares clustering columns ([[GraftTable.clusterBy]])
    * — the mirror then carries Delta's own `clustering` writer feature,
    * the declaration as `delta.clustering` domain metadata (PHYSICAL
    * names, per PROTOCOL.md "Clustered Table"), and a
    * `clusteringProvider` stamp on OPTIMIZE-written adds. */
  private def clusterByOn(props: Map[String, String]): Boolean =
    GraftTable.clusterColsOf(props).nonEmpty

  /** `delta.clustering` domain-metadata configuration for a property map
    * (None when unclustered): `{"clusteringColumns":[["phys"],…]}` —
    * each column a name-path array of one (graft schemas are flat here),
    * physical names so the declaration survives metadata-only renames. */
  private def clusteringConfigOf(props: Map[String, String]): Option[String] = {
    val cols = GraftTable.clusterColsOf(props)
    if (cols.isEmpty) None
    else {
      val cmap = colMapOfProps(props)
      Some(JsonMethods.compact(JObject("clusteringColumns" -> JArray(
        cols.toList.map(c =>
          JArray(List(JString(cmap.getOrElse(c, c)))): JValue)))))
    }
  }

  private def protocolJson(schema: StructType, props: Map[String, String]): String = {
    // TimestampNTZ in the schema is a Delta READER feature: legacy readers
    // would misinterpret the column, so the protocol must say v3 +
    // feature list (exactly what [[DeltaImport]]'s gate checks) — and a
    // feature-listed protocol must restate EVERY writer capability in
    // play ([[writerFeaturesOf]]).
    val ntz = hasNtz(schema)
    val proto =
      // Row tracking / in-commit timestamps / clustering / column
      // defaults have no legacy writer version — they force the
      // feature-listed shape (writer 7).
      // Reader stays at 1 unless NTZ demands 3: readerFeatures exists only
      // on a v3 reader protocol, and writer-only features never appear in it.
      if (ntz || rowTrackingOn(props) || ictOnProps(props) ||
          clusterByOn(props) ||
          props.keys.exists(_.startsWith(GraftTable.DefaultPrefix))) JObject(
        (List("minReaderVersion" -> (JInt(if (ntz) 3 else 1): JValue),
          "minWriterVersion" -> (JInt(7): JValue)) ++
          (if (ntz)
            List("readerFeatures" ->
              (JArray(List(JString("timestampNtz"))): JValue))
          else Nil) ++
          List("writerFeatures" -> (JArray(
            writerFeaturesOf(schema, props).map(JString(_)).toList): JValue))): _*)
      else JObject(
        "minReaderVersion" -> JInt(1),
        // Legacy (non-feature-listed) writer version implying everything
        // in use: the change feed is a writer-v4 capability (as are
        // generated columns; CHECK constraints alone would demand v3,
        // plain tables v2); identity columns demand v6. Reader version
        // untouched — cdc actions are invisible to snapshot readers.
        "minWriterVersion" -> JInt(
          if (props.keys.exists(_.startsWith(GraftTable.IdentitySpecPrefix))) 6
          else 4))
    JsonMethods.compact(JObject("protocol" -> proto))
  }

  private def hasNtz(dt: DataType): Boolean = dt match {
    case TimestampNTZType => true
    case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
    case a: ArrayType => hasNtz(a.elementType)
    case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
    case _ => false
  }

  /** Generated / identity column declarations travel IN the Delta schema
    * (field metadata `delta.generationExpression` /
    * `delta.identity.{start,step,highWaterMark,allowExplicitInsert}` —
    * where delta-spark itself stores them), matching the writer features
    * [[writerFeaturesOf]] advertises: a Delta writer that honors the
    * protocol then computes generated values and allocates identity ids
    * exactly as graft does. */
  private def decoratedSchemaJson(c: Commit): String = {
    val gen = c.properties.collect {
      case (k, v) if k.startsWith(GraftTable.GeneratedColPrefix) =>
        k.stripPrefix(GraftTable.GeneratedColPrefix) -> v
    }
    val ident = c.properties.collect {
      case (k, v) if k.startsWith(GraftTable.IdentitySpecPrefix) =>
        k.stripPrefix(GraftTable.IdentitySpecPrefix) -> v
    }
    // Type-widening history travels as `delta.typeChanges` FIELD metadata
    // (PROTOCOL.md "Type Widening") — graft keys it by PHYSICAL name,
    // exactly what the protocol's per-file reconciliation needs.
    val tw = c.properties.collect {
      case (k, v) if k.startsWith(GraftTable.TypeChangePrefix) =>
        k.stripPrefix(GraftTable.TypeChangePrefix) -> v
    }
    // Column defaults: Delta stores the user's DEFAULT SQL verbatim under
    // CURRENT_DEFAULT field metadata (PROTOCOL.md "Default Columns"),
    // gated by the allowColumnDefaults writer feature.
    val defs = c.properties.collect {
      case (k, v) if k.startsWith(GraftTable.DefaultPrefix) =>
        k.stripPrefix(GraftTable.DefaultPrefix) -> v
    }
    if (gen.isEmpty && ident.isEmpty && tw.isEmpty && defs.isEmpty)
      return c.schemaJson
    val cmapTw = colMapOfProps(c.properties)
    val schema = DataType.fromJson(c.schemaJson).asInstanceOf[StructType]
    StructType(schema.fields.map { f =>
      val b = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      gen.get(f.name).foreach(e =>
        b.putString("delta.generationExpression", e))
      defs.get(f.name).foreach(d => b.putString("CURRENT_DEFAULT", d))
      tw.get(cmapTw.getOrElse(f.name, f.name)).foreach(hist =>
        b.withMetadata(org.apache.spark.sql.types.Metadata.fromJson(
          s"""{"delta.typeChanges":$hist}""")))
      ident.get(f.name).foreach { spec =>
        val Array(start, step) = spec.split(',')
        b.putLong("delta.identity.start", start.toLong)
        b.putLong("delta.identity.step", step.toLong)
        b.putBoolean("delta.identity.allowExplicitInsert", true)
        c.properties.get(GraftTable.IdentityHwmPrefix + f.name).foreach(h =>
          b.putLong("delta.identity.highWaterMark", h.toLong))
      }
      f.copy(metadata = b.build())
    }).json
  }

  private def metaDataJson(tableId: String, c: Commit, firstTs: Long,
      mapping: Option[(Map[String, String], Map[String, Int], Int)] = None)
      : String = {
    // Graft CHECK constraints map onto Delta's reserved configuration keys
    // (`delta.constraints.<name>`); other properties pass through verbatim.
    // Every graft table maintains its change feed, so the mirror
    // advertises delta.enableChangeDataFeed — Delta CDF readers (the
    // reference's load_cdf, notebook cells 25-26) then serve changes from
    // the exported cdc actions / derived appends.
    val confCdf = c.properties
      // typeChange history lives in the schemaString's field metadata,
      // never in the configuration (mirrors the colmap-entry drop below);
      // the clustering declaration's canonical Delta carrier is the
      // `delta.clustering` domain metadata, so the graft key is dropped too
      .filterNot(_._1.startsWith(GraftTable.TypeChangePrefix))
      .filterNot(_._1 == GraftTable.ClusterByProp)
      // defaults live in the schemaString's CURRENT_DEFAULT field metadata
      .filterNot(_._1.startsWith(GraftTable.DefaultPrefix))
      .map {
        case (k, v) if k.startsWith("constraint.") =>
          s"delta.constraints.${k.stripPrefix("constraint.")}" -> v
        case kv => kv
      } + ("delta.enableChangeDataFeed" -> "true")
    // Row tracking: Delta's enable flag plus the materialized-column
    // names. The row-id column IS graft's own hidden physical column, so
    // a Delta reader resolves materialized ids from the very bytes graft
    // wrote; the commit-version column is declared but never materialized
    // — readers fall back to each add's defaultRowCommitVersion, the
    // spec's own coalesce.
    val conf0 =
      if (!rowTrackingOn(c.properties)) confCdf
      else confCdf +
        ("delta.enableRowTracking" -> "true") +
        ("delta.rowTracking.materializedRowIdColumnName" ->
          GraftTable.RowIdCol) +
        ("delta.rowTracking.materializedRowCommitVersionColumnName" ->
          "_graft_row_commit_version")
    // Column mapping travels as Delta-native schema metadata + config —
    // the graft-namespace colmap entries are dropped from the mirror's
    // configuration (physical names are already in the schemaString).
    val conf = mapping match {
      case None => conf0
      case Some((_, _, maxId)) =>
        conf0.filterNot(_._1.startsWith(GraftTable.ColMapPrefix)) +
          ("delta.columnMapping.mode" -> "name") +
          ("delta.columnMapping.maxColumnId" -> maxId.toString)
    }
    val schemaStr = mapping match {
      case None => decoratedSchemaJson(c)
      case Some((cmap, ids, _)) =>
        val st = DataType.fromJson(decoratedSchemaJson(c)).asInstanceOf[StructType]
        StructType(st.fields.map { f =>
          val ph = cmap.getOrElse(f.name, f.name)
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.columnMapping.id", ids(ph).toLong)
            .putString("delta.columnMapping.physicalName", ph)
            .build())
        }).json
    }
    JsonMethods.compact(JObject("metaData" -> JObject(
      "id" -> JString(tableId),
      "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(schemaStr),
      "partitionColumns" -> JArray(c.partitionCols.map(JString(_)).toList),
      "configuration" -> JObject(conf.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> (JString(v): JValue) }: _*),
      "createdTime" -> JLong(firstTs))))
  }

  /** Hive-style partition dirs inside a data/cdc dir carry the values the
    * files themselves omit (graft writes with partitionBy) — decode them
    * into Delta's partitionValues, Hive default partition as JSON null. */
  private def partitionValuesOf(rel: String, partCols: Seq[String]): JObject = {
    val pv: Seq[(String, JValue)] = partCols.map { pc =>
      val seg = rel.split('/').find(_.startsWith(pc + "="))
      val raw = seg.map(s => ExternalCatalogUtils.unescapePathName(s.drop(pc.length + 1)))
      pc -> raw.filter(_ != "__HIVE_DEFAULT_PARTITION__")
        .map(JString(_): JValue).getOrElse(JNull)
    }
    JObject(pv: _*)
  }

  private[sources] def addJson(rel: String, st: FileStatus, schema: StructType,
      partCols: Seq[String], dataChange: Boolean,
      conf: org.apache.hadoop.conf.Configuration,
      dv: Option[DeltaDeletionVectors.Descriptor] = None,
      baseRowId: Option[Long] = None,
      defaultRowCommitVersion: Option[Long] = None,
      clusteringProvider: Option[String] = None,
      allowedStats: Option[Set[String]] = None): String = {
    // A DV'd file's footer stats cover PHYSICAL rows (deleted included):
    // the protocol requires declaring them non-tight, else a metadata-only
    // MIN/MAX answer could come from deleted rows.
    val stats = fileStatsJson(st, schema, partCols, conf, tight = dv.isEmpty,
      allowed = allowedStats)
    val fields = List(
      "path" -> (JString(encodePath(rel)): JValue),
      "partitionValues" -> (partitionValuesOf(rel, partCols): JValue),
      "size" -> (JLong(st.getLen): JValue),
      "modificationTime" -> (JLong(st.getModificationTime): JValue),
      "dataChange" -> (JBool(dataChange): JValue)) ++
      stats.map(s => "stats" -> (JString(s): JValue)) ++
      dv.map(d => "deletionVector" -> (dvJson(d): JValue)) ++
      baseRowId.map(b => "baseRowId" -> (JLong(b): JValue)) ++
      defaultRowCommitVersion.map(v =>
        "defaultRowCommitVersion" -> (JLong(v): JValue)) ++
      clusteringProvider.map(cp =>
        "clusteringProvider" -> (JString(cp): JValue))
    JsonMethods.compact(JObject("add" -> JObject(fields: _*)))
  }

  /** A `cdc` action (`dataChange` is false by protocol — cdc files restate
    * changes, they do not alter the snapshot). */
  private[sources] def cdcJson(rel: String, st: FileStatus, partCols: Seq[String]): String =
    JsonMethods.compact(JObject("cdc" -> JObject(
      "path" -> JString(encodePath(rel)),
      "partitionValues" -> partitionValuesOf(rel, partCols),
      "size" -> JLong(st.getLen),
      "dataChange" -> JBool(false))))

  private[sources] def dvJson(d: DeltaDeletionVectors.Descriptor): JObject = JObject(
    List("storageType" -> (JString(d.storageType): JValue),
      "pathOrInlineDv" -> (JString(d.pathOrInlineDv): JValue)) ++
      d.offset.map(o => "offset" -> (JInt(o): JValue)).toList ++
      List("sizeInBytes" -> (JInt(d.sizeInBytes): JValue),
        "cardinality" -> (JLong(d.cardinality): JValue)): _*)

  /** Feature-listed protocol (reader 3 / writer 7) for capabilities that
    * are reader-AND-writer gated (`deletionVectors`, `columnMapping`):
    * emitted at v0 or as an in-place upgrade with the first use, and —
    * per spec — restating EVERY other capability in play
    * ([[writerFeaturesOf]], the same list [[protocolJson]]'s
    * feature-listed branch uses). */
  private def gatedProtocolJson(schema: StructType, props: Map[String, String],
      gated: Seq[String]): String = {
    val ntz = hasNtz(schema)
    val rf = gated ++ (if (ntz) Seq("timestampNtz") else Nil)
    val wf = gated ++ writerFeaturesOf(schema, props)
    JsonMethods.compact(JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(3),
      "minWriterVersion" -> JInt(7),
      "readerFeatures" -> JArray(rf.map(JString(_)).toList),
      "writerFeatures" -> JArray(wf.map(JString(_)).toList))))
  }

  /** Logical→physical mapping entries of a graft commit's properties. */
  private def colMapOfProps(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(GraftTable.ColMapPrefix) =>
      k.stripPrefix(GraftTable.ColMapPrefix) -> v }

  // ------------------------------------------------------- per-file stats

  /** Value cap keeping pathological string bounds out of the log; an
    * omitted column is always a valid (weaker) stats statement. */
  private val MaxStatString = 256

  /** Delta `stats` JSON for one parquet file, straight from its footer:
    * `{"numRecords":N,"minValues":{..},"maxValues":{..},"nullCount":{..}}`
    * with natively-typed values (numbers, strings, ISO-8601 timestamps,
    * dates). Only top-level atomic non-partition columns are reported —
    * exactly the set Delta's own writer defaults to. Returns None when the
    * footer is unreadable (stats are optional in the format).
    */
  private def fileStatsJson(st: FileStatus, schema: StructType,
      partCols: Seq[String], conf: org.apache.hadoop.conf.Configuration,
      tight: Boolean = true,
      allowed: Option[Set[String]] = None): Option[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
      try {
        val targets: Map[String, DataType] = schema.fields.iterator
          .filterNot(f => partCols.contains(f.name))
          .filter(f => isAtomic(f.dataType))
          .filter(f => allowed.forall(_.contains(f.name)))
          .map(f => f.name -> f.dataType).toMap
        var rows = 0L
        val mins = scala.collection.mutable.HashMap.empty[String, JValue]
        val maxs = scala.collection.mutable.HashMap.empty[String, JValue]
        val nulls = scala.collection.mutable.HashMap.empty[String, Long]
        val nullPoison = scala.collection.mutable.HashSet.empty[String]
        // min/max are per-FILE claims: any chunk whose values aren't
        // provably covered (stats missing/unrenderable, and not provably
        // all-null) invalidates the column's bounds for the whole file —
        // bounds from the OTHER chunks would under-cover and make a
        // reader prune rows away.
        val mmPoison = scala.collection.mutable.HashSet.empty[String]
        reader.getFooter.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala.foreach { cc =>
            val name = cc.getPath.toDotString
            targets.get(name).foreach { dt =>
              val s = cc.getStatistics
              if (s == null || !s.isNumNullsSet) nullPoison += name
              else nulls(name) = nulls.getOrElse(name, 0L) + s.getNumNulls
              val allNullChunk = s != null && s.isNumNullsSet &&
                s.getNumNulls == cc.getValueCount
              if (s != null && s.hasNonNullValue) {
                val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
                (jValueOf(s.genericGetMin.asInstanceOf[AnyRef], dt, ann),
                 jValueOf(s.genericGetMax.asInstanceOf[AnyRef], dt, ann)) match {
                  case (Some(lo), Some(hi)) =>
                    mins(name) = mins.get(name).map(m => jMin(m, lo)).getOrElse(lo)
                    maxs(name) = maxs.get(name).map(m => jMax(m, hi)).getOrElse(hi)
                  case _ => mmPoison += name // unrenderable value: no claim
                }
              } else if (!allNullChunk) mmPoison += name // silent chunk
            }
          }
        }
        nullPoison.foreach(nulls.remove)
        mmPoison.foreach { n => mins.remove(n); maxs.remove(n) }
        val obj = JObject(List[(String, JValue)](
          "numRecords" -> JLong(rows)) ++
          (if (tight) Nil else List[(String, JValue)](
            "tightBounds" -> JBool(false))) ++
          List[(String, JValue)](
            "minValues" -> JObject(mins.toSeq.sortBy(_._1): _*),
            "maxValues" -> JObject(maxs.toSeq.sortBy(_._1): _*),
            "nullCount" -> JObject(nulls.toSeq.sortBy(_._1)
              .map { case (k, v) => k -> (JLong(v): JValue) }: _*)): _*)
        Some(JsonMethods.compact(obj))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def isAtomic(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType | BinaryType => false
    case _ => true
  }

  /** FIXED-WIDTH ISO rendering (always 6 fractional digits, 4-digit
    * year): per-file bounds for multi-rowgroup files fold by comparing
    * rendered strings, and only a fixed-width rendering makes that
    * lexicographic order chronological ("…00Z" vs "…00.500Z" would sort
    * wrongly under ISO_INSTANT's variable precision). Years outside
    * 1..9999 (variable width) render as None — an omitted stat, never a
    * wrong bound. */
  private val TsFmt = DateTimeFormatter
    .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  private def isoMicros(inst: Instant): Option[String] = {
    val y = inst.atOffset(java.time.ZoneOffset.UTC).getYear
    if (y < 1 || y > 9999) None else Some(TsFmt.format(inst))
  }

  /** Footer statistic → typed Delta stats JSON value; None when the
    * physical/logical combination has no order-faithful rendering (e.g.
    * INT96 timestamps, >18-digit decimals). */
  private def jValueOf(v: AnyRef, dt: DataType,
      ann: org.apache.parquet.schema.LogicalTypeAnnotation): Option[JValue] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    (v, dt) match {
      case (x: java.lang.Long, LongType) => Some(JLong(x))
      case (x: java.lang.Integer, IntegerType | ShortType | ByteType) => Some(JInt(x.toInt))
      case (x: java.lang.Integer, DateType) =>
        val d = java.time.LocalDate.ofEpochDay(x.toLong)
        // 4-digit years only: out-of-range years render variable-width
        // (+10000-…), breaking the lexicographic fold below.
        if (d.getYear < 1 || d.getYear > 9999) None else Some(JString(d.toString))
      case (x: java.lang.Double, DoubleType) =>
        if (x.isNaN || x.isInfinite) None else Some(JDouble(x))
      case (x: java.lang.Float, FloatType) =>
        if (x.isNaN || x.isInfinite) None else Some(JDouble(x.toDouble))
      case (x: java.lang.Boolean, BooleanType) => Some(JBool(x))
      case (x: java.lang.Long, TimestampType | TimestampNTZType) =>
        val micros = ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(x * 1000L)
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(x.longValue)
            case _ => None // nanos: not order-safe to round here
          }
          case _ => None
        }
        micros.flatMap { us =>
          val inst = Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
            Math.floorMod(us, 1000000L) * 1000L)
          isoMicros(inst).map { iso =>
            dt match {
              case TimestampNTZType => JString(iso)
              case _ => JString(iso + "Z")
            }
          }
        }
      case (x: java.lang.Long, d: DecimalType) if d.precision <= 18 =>
        Some(JDecimal(BigDecimal(BigInt(x.longValue), d.scale)))
      case (x: java.lang.Integer, d: DecimalType) if d.precision <= 18 =>
        Some(JDecimal(BigDecimal(BigInt(x.intValue), d.scale)))
      case (b: org.apache.parquet.io.api.Binary, StringType)
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val s = new String(b.getBytes, StandardCharsets.UTF_8)
        if (s.length > MaxStatString) None else Some(JString(s))
      case _ => None
    }
  }

  // Multi-rowgroup files fold chunk bounds; ordering matches the stats'
  // own comparison domain: numbers numerically, strings in UTF-8 BINARY
  // order (parquet's unsigned byte order — Java's UTF-16 String order
  // disagrees for supplementary-plane characters), dates/timestamps by
  // their FIXED-WIDTH rendering (chronological under lexicographic
  // compare by construction, see [[isoMicros]]).
  private def jMin(a: JValue, b: JValue): JValue =
    if (jLe(a, b)) a else b
  private def jMax(a: JValue, b: JValue): JValue =
    if (jLe(a, b)) b else a
  private def jLe(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JLong(x), JLong(y)) => x <= y
    case (JInt(x), JInt(y)) => x <= y
    case (JDouble(x), JDouble(y)) => x <= y
    case (JDecimal(x), JDecimal(y)) => x <= y
    case (JBool(x), JBool(y)) => x <= y
    case (JString(x), JString(y)) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(y)) <= 0
    case _ => true
  }

  /** Temp-file-then-rename publish, the same visibility contract as the
    * graft commit log: a reader never sees a half-written Delta commit. */
  private def writeAtomic(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      target: Path, content: String): Unit = {
    val tmp = new Path(dir, s".${target.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      // Lost a race with another exporter: content is deterministic per
      // version, so the published file is equivalent — not an error.
      if (!fs.exists(target)) throw new java.io.IOException(s"cannot publish $target")
    }
  }
}
