package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.table.{Commit, GraftTable}

/** One optimistic commit against a FOREIGN Delta table — the cycle
  * delta-spark's OptimisticTransaction runs (Delta Lake, VLDB 2020), shared
  * by every foreign verb of [[DeltaExport]]: read the snapshot, run the
  * verb's conflict rule against the winning commits, publish `N+1.json`
  * put-if-absent, then run the post-commit checkpoint hook. The cycle owns
  * the 20-attempt bound, the writer-feature gate, the in-commit timestamp
  * and the `commitInfo` line; a verb supplies its staging, its conflict
  * rule, its action lines and its result.
  *
  * Reaping: staging registered through [[stage]] is deleted on every path
  * where no commit of ours references it — already-committed, a conflict
  * or gate refusal, a validation failure, retry exhaustion, and any
  * exception raised before the publish is entered. A publish that won is
  * never reaped; an exception from inside the publish leaves staging in
  * place, because the commit may have landed ([[DeltaExport.vacuumForeign]]
  * sweeps stale staging).
  *
  * `what` prefixes every refusal ("append to <path>"); `obligations` and
  * `retryHint` keep each verb's own refusal wording. */
private[sources] final class ForeignTxn(val spark: SparkSession,
    val tablePath: String, val what: String,
    obligations: String = "write-time obligations",
    retryHint: String = "a writer storm; retry when the table quiesces") {
  import ForeignTxn._

  val conf: org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()
  val root = new Path(tablePath)
  val fs: org.apache.hadoop.fs.FileSystem = root.getFileSystem(conf)
  private val logDir = new Path(root, "_delta_log")
  private val staging = scala.collection.mutable.ArrayBuffer.empty[Path]
  // Set on entering a publish, cleared when that publish lost: while set,
  // the commit may have landed and its staging must stay.
  private var publishing = false

  /** The writer-feature gate every snapshot a foreign verb writes over
    * must pass. */
  def gate(snap: DeltaImport.Snapshot): Unit =
    writerGate(snap, what, obligations)

  /** Registers `rel` (under the table root) as this transaction's staging,
    * BEFORE anything is written there, and returns its path. */
  def stage(rel: String): Path = {
    val p = new Path(root, rel)
    staging += p
    p
  }

  /** Stages `df` as parquet under `rel`, partitioned by `partCols`. */
  def writeStaged(df: DataFrame, rel: String, partCols: Seq[String]): Path = {
    val p = stage(rel)
    writeParquet(df, p, partCols)
    p
  }

  /** Runs a verb's staging and commit: any exception before the publish is
    * entered reaps the registered staging. */
  def run[R](body: => R): R =
    try body
    catch {
      case e: Throwable =>
        if (!publishing) staging.foreach(fs.delete(_, true))
        throw e
    }

  /** The optimistic loop. Attempt 1 commits over `snap0` (the snapshot the
    * verb staged and validated against); every later attempt re-resolves
    * the head, and `conflict` decides against the winner's state — throw
    * to refuse, `Some(result)` when the winner already committed this work
    * (a txn-stamped rival), `None` to go on. `publish` then builds the
    * attempt's commit over the snapshot, or answers [[Unchanged]]. */
  def commit[R](snap0: DeltaImport.Snapshot)(
      conflict: DeltaImport.Snapshot => Option[R])(
      publish: DeltaImport.Snapshot => Outcome[R]): R =
    run(attempts(snap0, conflict, publish))

  private def attempts[R](snap0: DeltaImport.Snapshot,
      conflict: DeltaImport.Snapshot => Option[R],
      publish: DeltaImport.Snapshot => Outcome[R]): R = {
    var attempt = 0
    while (attempt < 20) {
      attempt += 1
      val snap = if (attempt == 1) snap0
        else DeltaImport.snapshot(spark, tablePath)
      gate(snap)
      val settled = if (attempt == 1) None else conflict(snap)
      settled.map(Unchanged(_)).getOrElse(publish(snap)) match {
        case Unchanged(r) =>
          staging.foreach(fs.delete(_, true))
          return r
        case Publish(op, metrics, schemaJson, cfg, actions, done) =>
          val v = snap.version + 1
          val nowMs = System.currentTimeMillis()
          // The monotonic in-commit instant: above the winner's, never
          // behind the wall clock.
          val ict =
            if (DeltaExport.flagOn(snap.configuration, IctKey) ||
                DeltaExport.flagOn(cfg, IctKey))
              Some(math.max(lastIctOf(snap.version).getOrElse(0L) + 1, nowMs))
            else None
          val lines = DeltaExport.commitInfoJson(
            Commit(v, nowMs, op, Nil, metrics, schemaJson), ict) +:
            actions(Stamp(v, nowMs, ict))
          publishing = true
          if (DeltaExport.publishExclusive(conf, fs, logDir,
              new Path(logDir, f"$v%020d.json"), lines.mkString("", "\n", "\n"))) {
            DeltaExport.checkpointIfDue(spark, tablePath, cfg)
            return done(v)
          }
          publishing = false // lost to a concurrent committer: retry
      }
    }
    throw new IllegalArgumentException(
      s"$what: lost the commit race 20 times — $retryHint")
  }

  /** The winner's inCommitTimestamp at `version`, if it recorded one. */
  private def lastIctOf(version: Long): Option[Long] = {
    val p = new Path(logDir, f"$version%020d.json")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toArray finally in.close()
    lines.iterator.filter(_.trim.nonEmpty)
      .map(l => JsonMethods.parse(l) \ "commitInfo" \ "inCommitTimestamp")
      .collectFirst { case JInt(t) => t.toLong case JLong(t) => t }
  }

  // ------------------------------------------------- staged-file helpers

  /** Every parquet file under `p`, path-sorted (none when `p` is absent). */
  def parquetsUnder(p: Path): Seq[FileStatus] = {
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val b = Seq.newBuilder[FileStatus]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) b += st
    }
    b.result().sortBy(_.getPath.toString)
  }

  /** `st`'s path relative to the table root — the form actions carry. */
  def relOf(st: FileStatus): String = {
    val base = root.toUri.getPath.stripSuffix("/")
    st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
  }

  def footerRows(st: FileStatus): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally r.close()
  }

  /** NOT NULL, CHECK (`delta.constraints.*` of `cfg`), `extra` and legacy
    * invariant checks over the staged LOGICAL rows — exactly what the
    * commit would make visible, in one aggregate scan. Any violated check
    * refuses, its violating row count in the message. */
  def validate(staged: DataFrame, schema: StructType,
      cfg: Map[String, String], extra: Seq[Column] = Nil): Unit = {
    import org.apache.spark.sql.functions.{coalesce, count_if, expr, lit}
    val nullChecks = schema.fields.toSeq.filterNot(_.nullable)
      .map(f => count_if(col(s"`${f.name}`").isNull).as(s"null ${f.name}"))
    val checkChecks = constraintsOf(cfg).toSeq.sortBy(_._1).map { case (n, p) =>
      count_if(!coalesce(expr(p).cast("boolean"), lit(true)))
        .as(s"constraint $n") }
    val checks = nullChecks ++ checkChecks ++ extra ++ invariantChecks(schema)
    if (checks.nonEmpty) {
      val row = staged.agg(checks.head, checks.tail: _*).collect().head
      val bad = row.schema.fieldNames.zipWithIndex
        .filter { case (_, i) => row.getLong(i) > 0 }
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"$what violates ${bad.map(_._1).mkString("; ")} " +
          s"(${bad.map(b => row.getLong(b._2)).mkString(", ")} row(s))")
    }
  }

  // ------------------------------------------------------- action lines

  /** An `add` line for `st` (log-relative `rel`), shaped by `layout`, with
    * stats under the budget of `snap`'s configuration. */
  def addLine(layout: Layout, snap: DeltaImport.Snapshot, rel: String,
      st: FileStatus, dataChange: Boolean = true,
      dv: Option[DeltaDeletionVectors.Descriptor] = None,
      baseRowId: Option[Long] = None,
      rowCommitVersion: Option[Long] = None): String =
    DeltaExport.addJson(rel, st, layout.physSchema, layout.partCols,
      dataChange, conf, dv, baseRowId, rowCommitVersion, None,
      layout.statsCols(snap.configuration))

  /** `add` lines for files this commit (version `v`) introduces. On a
    * row-tracked table each gets a fresh `baseRowId` above the
    * `delta.rowTracking` high-water mark, and the advanced mark follows as
    * a `domainMetadata` line. */
  def freshAdds(layout: Layout, snap: DeltaImport.Snapshot, v: Long,
      files: Seq[FileStatus]): Seq[String] = {
    val rowTracked = snap.protocol.exists(p =>
      p.minWriterVersion >= 7 && p.writerFeatures.contains("rowTracking"))
    val hwm0: Long = snap.domainMetadata.get("delta.rowTracking")
      .map(cfgJson => (JsonMethods.parse(cfgJson) \ "rowIdHighWaterMark") match {
        case JInt(t) => t.toLong
        case JLong(t) => t
        case _ => -1L
      }).getOrElse(-1L)
    var nextBase = hwm0 + 1
    val adds = files.map { st =>
      val base = if (rowTracked) Some(nextBase) else None
      if (rowTracked) nextBase += footerRows(st)
      addLine(layout, snap, relOf(st), st, baseRowId = base,
        rowCommitVersion = if (rowTracked) Some(v) else None)
    }
    adds ++ (if (nextBase == hwm0 + 1) Nil
      else Seq(JsonMethods.compact(JObject("domainMetadata" -> JObject(
        "domain" -> JString("delta.rowTracking"),
        "configuration" ->
          JString(s"""{"rowIdHighWaterMark":${nextBase - 1}}"""),
        "removed" -> JBool(false))))))
  }

  /** Each touched file of `snap0` (log-relative `rels`) is removed; one
    * that gained a deletion vector (`dvs`) re-adds under the same path
    * with it, keeping its row-tracking fields — the remove+add pair Delta
    * writes for a DV change. */
  def touchLines(layout: Layout, snap: DeltaImport.Snapshot, nowMs: Long,
      snap0: DeltaImport.Snapshot, rels: Seq[String],
      dvs: Map[String, DeltaDeletionVectors.Descriptor]): Seq[String] = {
    val byRel = snap0.files.map(f => f.path -> f).toMap
    rels.flatMap { rel =>
      val prior = byRel(rel)
      removeJson(rel, nowMs, dataChange = true, prior.deletionVector) +:
        dvs.get(rel).map(d => addLine(layout, snap, rel,
          fs.getFileStatus(DeltaImport.resolveFile(tablePath, rel)),
          dv = Some(d), baseRowId = prior.baseRowId,
          rowCommitVersion = prior.defaultRowCommitVersion)).toSeq
    }
  }

  /** `cdc` lines for the change files staged under `dir`. */
  def cdcLines(layout: Layout, dir: Path): Seq[String] =
    parquetsUnder(dir).map(st => DeltaExport.cdcJson(relOf(st), st, layout.partCols))

  /** A `metaData` line restating `snap`'s table with a new schema,
    * partitioning or configuration. */
  def metaDataJson(snap: DeltaImport.Snapshot, schema: StructType,
      partCols: Seq[String], cfg: Map[String, String]): String =
    JsonMethods.compact(JObject("metaData" -> JObject(
      "id" -> JString(snap.tableId.getOrElse(java.util.UUID
        .nameUUIDFromBytes(tablePath.getBytes(StandardCharsets.UTF_8))
        .toString)),
      "format" -> JObject("provider" -> JString("parquet"),
        "options" -> JObject()),
      "schemaString" -> JString(schema.json),
      "partitionColumns" -> JArray(partCols.map(JString(_)).toList),
      "configuration" -> JObject(cfg.toSeq.sortBy(_._1)
        .map { case (k, x) => k -> (JString(x): JValue) }: _*))))

  /** Identity allocation advanced high-water marks → the commit
    * re-publishes metaData carrying them (where delta-spark records them,
    * in the identity field's schema metadata). */
  def hwmMetaData(snap: DeltaImport.Snapshot,
      hwms: Map[String, Long]): Seq[String] =
    if (hwms.isEmpty) Nil
    else Seq(metaDataJson(snap, StructType(snap.schema.fields.map { f =>
      hwms.get(f.name) match {
        case Some(h) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("delta.identity.highWaterMark", h).build())
        case None => f
      }
    }), snap.partitionColumns, snap.configuration))
}

private[sources] object ForeignTxn {

  private val IctKey = "delta.enableInCommitTimestamps"

  /** The clock of one attempt: the version it targets, its wall time and
    * the in-commit timestamp it stamps (ICT tables only). */
  final case class Stamp(version: Long, nowMs: Long, ict: Option[Long])

  sealed trait Outcome[+R]
  /** Nothing to publish over this snapshot: reap staging, return `result`. */
  final case class Unchanged[R](result: R) extends Outcome[R]
  /** One commit: `commitInfo` from `operation`/`metrics`/`schemaJson`, then
    * `actions`. `configuration` is the table's configuration after it (it
    * decides ICT stamping and the checkpoint cadence); `result` maps the
    * committed version to the verb's return value. */
  final case class Publish[R](operation: String, metrics: Map[String, Long],
      schemaJson: String, configuration: Map[String, String],
      actions: Stamp => Seq[String], result: Long => R) extends Outcome[R]

  /** Writer features whose APPEND-time obligations this writer discharges
    * (delta.io PROTOCOL.md "Table Features" — a writer must refuse a table
    * listing any feature it cannot uphold):
    * appendOnly (an append is legal by definition); invariants (every
    * `delta.invariants` column expression validates against the staged
    * rows alongside the CHECK constraints — see [[DeltaExport.legacyInvariantsOf]]
    * for the null convention); checkConstraints (every `delta.constraints.*`
    * predicate validates against the staged rows before the commit
    * publishes); changeDataFeed (a blind append writes NO cdc action by
    * protocol — readers synthesize inserts from its dataChange adds);
    * columnMapping (files are written under physical names at EVERY
    * nesting level — [[DeltaImport.physicalRender]] — partition dirs and
    * partitionValues keys physical); timestampNtz/typeWidening
    * (schema capabilities the staging write and stats harvest honor);
    * deletionVectors/v2Checkpoint/vacuumProtocolCheck (obligations attach
    * to deletes / checkpoint writes / vacuum, none of which an append
    * performs); domainMetadata/clustering (domains ride untouched; an
    * append to a clustered table is legal unclustered — OPTIMIZE
    * re-clusters, exactly as in delta-spark); allowColumnDefaults
    * (defaults fill OMITTED columns; this writer requires the full
    * schema, so nothing is ever omitted); rowTracking (fresh base row
    * ids are assigned above the domain high-water mark, which advances
    * in the same commit); inCommitTimestamp (the commit stamps a
    * monotonic ICT); generatedColumns (a frame that omits the column gets
    * it computed from `delta.generationExpression`, a frame that provides
    * it is validated value-for-value on the staged bytes); identityColumns
    * (omitted/null values are assigned above the schema's
    * `delta.identity.highWaterMark` by per-task block reservation, and the
    * commit re-publishes metaData with the advanced watermark — a rival
    * identity append moves the watermark, which changes the schema JSON,
    * so the retry gate's schema check already forces a restage rather
    * than risking id collisions). Everything else — icebergCompat*, … —
    * is refused with the feature named. */
  private val ForeignAppendFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "changeDataFeed",
    "columnMapping", "timestampNtz", "typeWidening", "deletionVectors",
    "v2Checkpoint", "vacuumProtocolCheck", "domainMetadata", "clustering",
    "allowColumnDefaults", "rowTracking", "inCommitTimestamp",
    "generatedColumns", "identityColumns")

  /** Refuses a feature-listed table naming a writer feature outside
    * [[ForeignAppendFeatures]]. */
  def writerGate(snap: DeltaImport.Snapshot, what: String,
      obligations: String): Unit =
    snap.protocol.filter(_.minWriterVersion >= 7).foreach { p =>
      val unsupported = p.writerFeatures.filterNot(ForeignAppendFeatures)
      require(unsupported.isEmpty,
        s"$what: writer feature(s) ${unsupported.mkString(", ")} carry " +
          s"$obligations this writer does not implement")
    }

  def writeParquet(df: DataFrame, p: Path, partCols: Seq[String]): Unit =
    if (partCols.nonEmpty) df.write.partitionBy(partCols: _*).parquet(p.toString)
    else df.write.parquet(p.toString)

  /** `delta.constraints.<name>` predicates of a configuration, by name. */
  def constraintsOf(cfg: Map[String, String]): Map[String, String] =
    cfg.collect { case (k, v) if k.startsWith("delta.constraints.") =>
      k.stripPrefix("delta.constraints.") -> v }

  /** One `count_if` aggregate per declared legacy invariant (see
    * [[DeltaExport.legacyInvariantsOf]] — FALSE or NULL violates). */
  private def invariantChecks(schema: StructType): Seq[Column] = {
    import org.apache.spark.sql.functions.{coalesce, count_if, expr, lit}
    DeltaExport.legacyInvariantsOf(schema).map { case (n, p) =>
      count_if(!coalesce(expr(p).cast("boolean"), lit(false)))
        .as(s"invariant $n") }
  }

  /** The table already recorded `txn`'s (appId, batchVersion) — the work
    * is committed, a redelivery is a no-op. */
  def txnCommitted(snap: DeltaImport.Snapshot,
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, bv) =>
      snap.setTransactions.get(app).exists(_ >= bv) }

  /** The `txn` (SetTransaction) line stamping `txn`, if any. */
  def txnJson(txn: Option[(String, Long)], nowMs: Long): Seq[String] =
    txn.toSeq.map { case (app, bv) =>
      JsonMethods.compact(JObject("txn" -> JObject(
        "appId" -> JString(app),
        "version" -> JLong(bv),
        "lastUpdated" -> JLong(nowMs))))
    }

  def removeJson(rel: String, nowMs: Long, dataChange: Boolean,
      dv: Option[DeltaDeletionVectors.Descriptor]): String =
    JsonMethods.compact(JObject("remove" -> JObject(List(
      "path" -> (JString(DeltaExport.encodePath(rel)): JValue),
      "deletionTimestamp" -> (JLong(nowMs): JValue),
      "dataChange" -> (JBool(dataChange): JValue)) ++
      dv.map(d => "deletionVector" -> DeltaExport.dvJson(d)).toList: _*)))

  /** The winner changed the schema or partitioning staged against. */
  def layoutChanged(snap0: DeltaImport.Snapshot,
      snap: DeltaImport.Snapshot): Boolean =
    snap.schema.json != snap0.schema.json ||
      snap.partitionColumns != snap0.partitionColumns

  /** The winner removed one of `rels` or changed its deletion vector. */
  def filesChanged(snap0: DeltaImport.Snapshot, snap: DeltaImport.Snapshot,
      rels: Seq[String]): Boolean = {
    val before = snap0.files.map(f => f.path -> f).toMap
    val now = snap.files.map(f => f.path -> f).toMap
    rels.exists(rel =>
      now.get(rel).forall(_.deletionVector != before(rel).deletionVector))
  }

  /** Files a rival added since `snap0` may hold rows matching `pred`
    * (stats pruning — a file without stats may match); `None` counts every
    * rival add as a match. */
  def rivalMayMatch(spark: SparkSession, snap0: DeltaImport.Snapshot,
      snap: DeltaImport.Snapshot, pred: Option[Column]): Boolean = {
    val known = snap0.files.map(_.path).toSet
    val rivalAdds = snap.files.filterNot(f => known(f.path))
    rivalAdds.nonEmpty && pred.forall(p =>
      DeltaSkipping.prune(spark, snap.copy(files = rivalAdds), p).nonEmpty)
  }

  /** How files of a table shaped like `snap` land in add/cdc actions:
    * physical schema and partition columns, stats budget. */
  final class Layout(snap: DeltaImport.Snapshot) {
    private val physNames = DeltaImport.topLevelPhysicalNames(snap.schema)
    val physSchema: StructType = DeltaImport.toPhysicalSchema(snap.schema)
    val partCols: Seq[String] =
      snap.partitionColumns.map(c => physNames.getOrElse(c, c))
    /** Stats columns `cfg`'s budget allows, physical names. */
    def statsCols(cfg: Map[String, String]): Option[Set[String]] =
      GraftTable.allowedStatsCols(cfg, snap.schema.fieldNames.toSeq)
        .map(_.map(n => physNames.getOrElse(n, n)))
  }
}
