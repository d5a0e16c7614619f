package graft.table

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One committed table version.
  *
  * @param version   monotonically increasing, 0-based
  * @param tsMs      commit wall-clock, epoch millis
  * @param operation CREATE / WRITE / APPEND / MERGE / DELETE / UPDATE /
  *                  OPTIMIZE / RESTORE
  * @param dataDirs  relative dirs (under the table root) whose parquet files
  *                  together form the snapshot at this version. Append
  *                  commits reference the previous version's dirs plus one
  *                  new dir, so an append never rewrites existing data.
  * @param metrics   operation metrics (numTargetRowsInserted, ...), mirroring
  *                  Delta's history operationMetrics surface the reference
  *                  inspects (notebooks/deltalake-query.ipynb cell 11).
  * @param schemaJson Spark StructType json of the snapshot schema.
  * @param txnAppId / txnBatchId  idempotent-writer bookkeeping (Delta's
  *                  `txn` action): a streaming sink stamps each commit with
  *                  its query id + batch id, and a replayed batch is
  *                  detected and skipped — upgrading the at-least-once
  *                  checkpoint contract to exactly-once appends.
  */
final case class Commit(
    version: Long,
    tsMs: Long,
    operation: String,
    dataDirs: Seq[String],
    metrics: Map[String, Long],
    schemaJson: String,
    txnAppId: Option[String] = None,
    txnBatchId: Option[Long] = None,
    partitionCols: Seq[String] = Nil,
    /** Per-data-dir column stats for data skipping: dir → col → (min, max),
      * numeric/timestamp columns encoded as doubles (timestamps epoch
      * micros). The analogue of Delta's per-file stats, which the reference
      * leaves at defaults (SURVEY §4). */
    dirStats: Map[String, Map[String, (Double, Double)]] = Map.empty,
    /** Relative dir of the CDF rows this commit emitted, if any. Recorded
      * (not derived from the version) because dir names carry a
      * uniquifying suffix — concurrent writers must never contend on a
      * version-named path before the commit log arbitrates the version. */
    changesDir: Option[String] = None,
    /** Table properties carried forward by every commit (the Delta
      * `metaData.configuration` analogue). CHECK constraints live here as
      * `constraint.<name> -> <sql predicate>`. */
    properties: Map[String, String] = Map.empty,
    /** POSITIONAL deletion-vector dirs (Delta deletion-vector parity):
      * parquet of (file, pos) pairs naming deleted row positions —
      * `_metadata.file_path` / `_metadata.row_index` of the deleted rows.
      * Reads subtract them with a per-file position FILTER (no join).
      * Carried forward by appends; cleared by any snapshot rewrite. */
    dvDirs: Seq[String] = Nil,
    /** Source files a COPY INTO loaded in THIS commit (absolute URIs).
      * Recorded atomically with the data so idempotency cannot drift:
      * the loaded-file set is the union over all commits, and a crash
      * can never leave a file loaded-but-untracked or tracked-but-
      * unloaded. One entry per ingested file — same metadata class as
      * Delta's add actions, driver-side, never joined against data. */
    copiedFiles: Seq[String] = Nil,
    /** Per-data-dir null bookkeeping for IS [NOT] NULL skipping and
      * all-null dir elimination: dir → col → null count, with the dir's
      * ROW count under the reserved "" key. -1 = the footers didn't say
      * (unknown). A column ABSENT from a recorded dir's map is not in the
      * dir's files at all — all-null after schema alignment, the
      * schema-evolution case (guard: partition columns live in paths, not
      * footers, and nested types explode into leaf paths — callers only
      * draw the absence inference for atomic non-partition columns). Dirs
      * absent entirely (pre-feature commits) are unknown. */
    dirNulls: Map[String, Map[String, Long]] = Map.empty)

/** Tiny single-writer commit log: one JSON file per version under
  * `<table>/_graft_log/`, written temp-file-then-rename so a version becomes
  * visible only after its data files are fully on disk.
  *
  * Spark-native stand-in for the Delta transaction log the reference relies
  * on (`/root/reference/deltalake/<t>/_delta_log/`,
  * consumer/python-consumer/delta_handler.py:227-264): it carries everything
  * needed for history (SURVEY S7), time travel by version/timestamp (S4/S5)
  * and vacuum (S18) as plain metadata reads. Uses the Hadoop FileSystem API
  * so the same layout works on HDFS / S3A, not just local disk; log files
  * are a few hundred bytes — at 100 TB the data scales, the log does not
  * (one entry per commit, listed once per read, driver-side).
  */
final class CommitLog(tableRoot: String, conf: Configuration) {
  private val logDir = new Path(tableRoot, CommitLog.LogDirName)
  private def fs: FileSystem = logDir.getFileSystem(conf)

  // Commit files are immutable once written, so parses are cached by file
  // name forever; each commits() call does ONE cheap directory listing (so
  // other handles' new commits are always visible) and parses only files it
  // hasn't seen — O(new) parsing instead of O(#commits) per lookup, which
  // matters once a streaming table has thousands of commits.
  private val parsedByName =
    scala.collection.concurrent.TrieMap.empty[String, Commit]

  def exists: Boolean = fs.exists(logDir)

  private def versionFile(v: Long): Path = new Path(logDir, f"$v%020d.json")

  private def readFile(p: Path, len: Long): String = {
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](len.toInt)
      in.readFully(0, bytes)
      new String(bytes, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** All commits, ascending by version. Driver-side. A checkpoint file, if
    * present, supplies every commit at or below its version in ONE read;
    * only newer per-commit files are opened individually — so a cold open
    * of a table with thousands of commits costs one file plus the tail
    * (Delta's `_last_checkpoint` pattern). */
  def commits(): Seq[Commit] = {
    if (!exists) return Seq.empty
    val entries = fs.listStatus(logDir).toSeq.filter(_.isFile)
    val ckpt = entries
      .filter(_.getPath.getName.startsWith(CommitLog.CheckpointPrefix))
      .sortBy(_.getPath.getName).lastOption
    // A checkpoint is an OPTIMIZATION: every per-commit file still exists,
    // so an unreadable checkpoint (e.g. listed mid-publish on a store
    // without atomic rename) is simply ignored for this read.
    val fromCkpt: Seq[Commit] = ckpt.flatMap { s =>
      try Some(parsedCheckpoints.getOrElseUpdate(s.getPath.getName,
        parse(s)(CommitLog.manyFromJson)))
      catch {
        case e: CommitLog.ValueTombstonesRefused => throw e
        case scala.util.control.NonFatal(_) => None
      }
    }.getOrElse(Seq.empty)
    val ckptMax = fromCkpt.lastOption.map(_.version).getOrElse(-1L)
    val tail = entries
      .filter { s =>
        val n = s.getPath.getName
        n.endsWith(".json") && !n.startsWith(".") &&
          !n.startsWith(CommitLog.CheckpointPrefix) &&
          n.stripSuffix(".json").forall(_.isDigit) &&
          n.stripSuffix(".json").toLong > ckptMax
      }
      .map { s =>
        parsedByName.getOrElseUpdate(s.getPath.getName, parse(s)(CommitLog.fromJson))
      }
    (fromCkpt ++ tail).sortBy(_.version)
  }

  /** Parse one log file; a retired-format entry is refused naming this table. */
  private def parse[T](s: org.apache.hadoop.fs.FileStatus)(f: String => T): T =
    try f(readFile(s.getPath, s.getLen))
    catch { case e: CommitLog.ValueTombstonesRefused =>
      throw new CommitLog.ValueTombstonesRefused(tableRoot, e.version) }

  private val parsedCheckpoints =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Commit]]

  /** Consolidate all commits up to the head into one checkpoint file.
    * Per-commit files stay in place (readers mid-listing stay correct);
    * they are simply no longer opened. Call every N commits. */
  def checkpoint(): Unit = {
    val all = commits()
    if (all.isEmpty) return
    val name = f"${CommitLog.CheckpointPrefix}${all.last.version}%020d.ckpt.json"
    val target = new Path(logDir, name)
    if (fs.exists(target)) return
    // Publish ATOMICALLY (temp + rename): concurrent readers list the log
    // while checkpoints are written, and a partially-written checkpoint
    // file must never be visible under its final name. Arbitration is not
    // needed — two writers racing the same checkpoint produce identical
    // content — and the dot-prefixed temp name is excluded from listings.
    val tmp = CommitPublishers.writeTemp(fs, logDir, target, CommitLog.manyToJson(all))
    if (!fs.rename(tmp, target)) fs.delete(tmp, false)
    parsedCheckpoints.put(name, all)
    ()
  }

  def latest(): Option[Commit] = commits().lastOption

  def commit(c: Commit): Unit = {
    fs.mkdirs(logDir)
    val target = versionFile(c.version)
    if (fs.exists(target))
      throw new IllegalStateException(
        s"concurrent write detected: version ${c.version} already committed at $target")
    val json = CommitLog.toJson(c)
    // The PUBLISH step must be atomic fail-if-exists so exactly one of two
    // racing writers wins the version. The strategy depends on what the
    // store can do atomically, so it sits behind the CommitPublisher seam,
    // selected by filesystem scheme (overridable per deployment).
    val scheme = Option(fs.getUri).map(_.getScheme).getOrElse("file")
    val won = CommitLog.publisherFor(scheme).publish(fs, logDir, target, json)
    if (!won)
      throw new IllegalStateException(
        s"concurrent write detected: version ${c.version} already committed at $target")
    parsedByName.put(target.getName, c)
    // Delta's `_last_checkpoint` cadence, automated: every N commits
    // (default 10, `graft.log.checkpoint.interval` in the Hadoop conf —
    // settable via `spark.hadoop.*`; 0 disables) consolidate the log so a
    // cold open of a long-lived streaming table reads one checkpoint file
    // plus a short tail instead of thousands of entries. Best-effort and
    // idempotent: a failed or racing checkpoint never fails the commit
    // that triggered it (checkpoint() returns if the target exists).
    val interval = conf.getInt("graft.log.checkpoint.interval", 10)
    if (interval > 0 && c.version > 0 && c.version % interval == 0)
      try checkpoint()
      catch { case scala.util.control.NonFatal(_) => () }
    ()
  }

  /** Drop the log entry for a version (administrative; vacuum keeps logs). */
  def remove(version: Long): Unit = {
    fs.delete(versionFile(version), false)
    parsedByName.remove(versionFile(version).getName)
    ()
  }

  /** TRUNCATE HISTORY: make `floor` the oldest readable version. Publishes
    * a checkpoint holding ONLY commits ≥ floor (readers pick the newest
    * checkpoint, so the tail-only one supersedes any full-history ones),
    * then deletes the per-version files and checkpoints below it. Ordering
    * is crash-safe: the new checkpoint lands before anything is removed,
    * so a reader never sees a gap — either the old full view or the
    * truncated one. Time travel below the floor then fails version lookup,
    * which is the contract (Delta's DROP FEATURE … TRUNCATE HISTORY). */
  def truncateTo(floor: Long): Unit = {
    val all = commits()
    if (all.isEmpty || all.head.version >= floor) return
    val kept = all.filter(_.version >= floor)
    require(kept.nonEmpty, s"truncateTo($floor) would empty the log (head ${all.last.version})")
    val name = f"${CommitLog.CheckpointPrefix}${kept.last.version}%020d.ckpt.json"
    val target = new Path(logDir, name)
    // Unlike checkpoint(), the truncated content must win even if a
    // same-version full checkpoint exists — write under a tiebreaking
    // suffix ordering AFTER the plain name if taken.
    val finalTarget =
      if (!fs.exists(target)) target
      else new Path(logDir, f"${CommitLog.CheckpointPrefix}${kept.last.version}%020d.t.ckpt.json")
    val tmp = CommitPublishers.writeTemp(fs, logDir, finalTarget, CommitLog.manyToJson(kept))
    if (!fs.rename(tmp, finalTarget)) { fs.delete(tmp, false); return }
    parsedCheckpoints.put(finalTarget.getName, kept)
    fs.listStatus(logDir).toSeq.filter(_.isFile).foreach { s =>
      val n = s.getPath.getName
      val isOldCkpt = n.startsWith(CommitLog.CheckpointPrefix) &&
        n != finalTarget.getName && n <= target.getName
      val isOldVersion = n.endsWith(".json") && !n.startsWith(".") &&
        !n.startsWith(CommitLog.CheckpointPrefix) &&
        n.stripSuffix(".json").forall(_.isDigit) &&
        n.stripSuffix(".json").toLong < floor
      if (isOldCkpt || isOldVersion) {
        fs.delete(s.getPath, false)
        parsedByName.remove(n)
        parsedCheckpoints.remove(n)
      }
    }
    ()
  }
}

/** Atomic fail-if-exists publish of a fully-written commit file — the one
  * step of a commit whose atomicity depends on what the underlying store
  * can do (ROADMAP round-2 #2). Returns true iff THIS writer created the
  * target; false means another writer owns the version (caller retries at
  * version+1 or aborts). Implementations must never replace an existing
  * target and must never expose a half-written file to readers.
  */
trait CommitPublisher {
  def publish(fs: FileSystem, logDir: Path, target: Path, json: String): Boolean
}

/** Local POSIX filesystems: write a temp file, then hard-link it to the
  * target — link(2) fails EEXIST atomically. (A rename would REPLACE
  * silently: two writers could each pass a read-back check before the
  * other's rename landed, silently dropping one commit.) */
object HardLinkPublisher extends CommitPublisher {
  override def publish(fs: FileSystem, logDir: Path, target: Path, json: String): Boolean = {
    import java.nio.file.{FileAlreadyExistsException, Files => JFiles, Paths => JPaths}
    val tmp = CommitPublishers.writeTemp(fs, logDir, target, json)
    val won =
      try { JFiles.createLink(JPaths.get(target.toUri.getPath), JPaths.get(tmp.toUri.getPath)); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: java.nio.file.FileSystemException => false
      }
    fs.delete(tmp, false)
    won
  }
}

/** HDFS-class filesystems, where rename refuses to overwrite an existing
  * target atomically. A read-back guards stores where that refusal is
  * advisory. */
object RenamePublisher extends CommitPublisher {
  override def publish(fs: FileSystem, logDir: Path, target: Path, json: String): Boolean = {
    val tmp = CommitPublishers.writeTemp(fs, logDir, target, json)
    val renamed = fs.rename(tmp, target)
    if (!renamed) fs.delete(tmp, false)
    renamed && CommitPublishers.readBack(fs, target) == json
  }
}

/** Object stores, where rename is copy+delete (not atomic) but a
  * conditional put is: subclasses implement [[putIfAbsent]] with the
  * store's native primitive — S3 `If-None-Match: *`, GCS
  * `if-generation-match: 0`, ABFS ETag `If-None-Match` — and the base
  * class handles the commit contract. No temp file: the conditional put
  * is all-or-nothing by contract, so readers never see a partial commit.
  * Registered per scheme via [[CommitLog.registerPublisher]] (the store
  * SDKs are deployment dependencies, so no adapter ships here). */
abstract class ConditionalPutPublisher extends CommitPublisher {
  /** Atomically create `target` with `bytes` iff it does not exist. */
  protected def putIfAbsent(fs: FileSystem, target: Path, bytes: Array[Byte]): Boolean
  final override def publish(fs: FileSystem, logDir: Path, target: Path, json: String): Boolean =
    putIfAbsent(fs, target, json.getBytes(StandardCharsets.UTF_8))
}

object CommitPublishers {
  private[table] def writeTemp(fs: FileSystem, logDir: Path, target: Path, json: String): Path = {
    val tmp = new Path(logDir,
      s".tmp-${target.getName.stripSuffix(".json")}-${System.nanoTime()}.json")
    val out = fs.create(tmp, false)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  private[table] def readBack(fs: FileSystem, target: Path): String = {
    val len = fs.getFileStatus(target).getLen
    val in = fs.open(target)
    try {
      val bytes = new Array[Byte](len.toInt)
      in.readFully(0, bytes)
      new String(bytes, StandardCharsets.UTF_8)
    } finally in.close()
  }
}

object CommitLog {
  val LogDirName = "_graft_log"
  val CheckpointPrefix = "_ckpt-"

  /** A log entry that still lists `tombstoneDirs`: parquet of deleted
    * rows, the retired value-tombstone merge-on-read format, which reads
    * used to subtract by anti-join. No read subtracts them any more, so
    * such a log is refused when opened — ignoring the field would bring
    * the deleted rows back. */
  final class ValueTombstonesRefused(val table: String, val version: Long)
      extends IllegalStateException(
        s"version $version of table $table carries value tombstones " +
          "(tombstoneDirs), a retired merge-on-read format this engine " +
          "cannot subtract; reading it would bring deleted rows back — " +
          "OPTIMIZE the table with the engine that wrote it, then reopen")

  // Scheme → publish strategy. Defaults cover local disk and HDFS-class
  // rename semantics; object-store deployments register a
  // ConditionalPutPublisher for their scheme (s3a/gs/abfs) at startup.
  @volatile private var publishers: Map[String, CommitPublisher] = Map(
    "file" -> HardLinkPublisher,
    "hdfs" -> RenamePublisher,
    "viewfs" -> RenamePublisher)

  def registerPublisher(scheme: String, p: CommitPublisher): Unit =
    synchronized { publishers = publishers + (scheme -> p) }

  /** Unknown schemes fall back to rename+read-back — correct on
    * HDFS-class stores, best-effort on overwriting-rename stores (which
    * should register a conditional-put publisher instead). */
  def publisherFor(scheme: String): CommitPublisher =
    publishers.getOrElse(scheme, RenamePublisher)

  def manyToJson(cs: Seq[Commit]): String =
    cs.map(toJson).mkString("[", ",", "]")

  def manyFromJson(s: String): Seq[Commit] =
    JsonMethods.parse(s) match {
      case JArray(xs) => xs.map(fromJsonValue).sortBy(_.version)
      case _ => Seq.empty
    }

  def toJson(c: Commit): String = {
    val base = List(
      "version" -> (JLong(c.version): JValue),
      "tsMs" -> JLong(c.tsMs),
      "operation" -> JString(c.operation),
      "dataDirs" -> JArray(c.dataDirs.map(JString(_)).toList),
      "metrics" -> JObject(c.metrics.toList.map { case (k, v) => k -> (JLong(v): JValue) }),
      "schemaJson" -> JString(c.schemaJson)) ++
      c.txnAppId.map(v => "txnAppId" -> (JString(v): JValue)).toList ++
      c.txnBatchId.map(v => "txnBatchId" -> (JLong(v): JValue)).toList ++
      (if (c.partitionCols.nonEmpty)
        List("partitionCols" -> (JArray(c.partitionCols.map(JString(_)).toList): JValue))
      else Nil) ++
      (if (c.dirStats.nonEmpty)
        List("dirStats" -> (JObject(c.dirStats.toList.map { case (dir, cols) =>
          dir -> (JObject(cols.toList.map { case (col, (lo, hi)) =>
            col -> (JArray(List(JDouble(lo), JDouble(hi))): JValue)
          }): JValue)
        }): JValue))
      else Nil) ++
      c.changesDir.map(v => "changesDir" -> (JString(v): JValue)).toList ++
      (if (c.properties.nonEmpty)
        List("properties" -> (JObject(c.properties.toList.map {
          case (k, v) => k -> (JString(v): JValue)
        }): JValue))
      else Nil) ++
      (if (c.dvDirs.nonEmpty)
        List("dvDirs" -> (JArray(c.dvDirs.map(JString(_)).toList): JValue))
      else Nil) ++
      (if (c.copiedFiles.nonEmpty)
        List("copiedFiles" -> (JArray(c.copiedFiles.map(JString(_)).toList): JValue))
      else Nil) ++
      (if (c.dirNulls.nonEmpty)
        List("dirNulls" -> (JObject(c.dirNulls.toList.map { case (dir, cols) =>
          dir -> (JObject(cols.toList.map { case (col, n) =>
            col -> (JLong(n): JValue)
          }): JValue)
        }): JValue))
      else Nil)
    JsonMethods.compact(JsonMethods.render(JObject(base)))
  }

  def fromJson(s: String): Commit = fromJsonValue(JsonMethods.parse(s))

  def fromJsonValue(j: JValue): Commit = {
    def str(f: String): String = j \ f match { case JString(v) => v; case other => other.values.toString }
    def lng(f: String): Long = j \ f match {
      case JLong(v) => v
      case JInt(v) => v.toLong
      case other => other.values.toString.toLong
    }
    val dirs = j \ "dataDirs" match {
      case JArray(xs) => xs.collect { case JString(v) => v }
      case _ => Nil
    }
    val metrics = j \ "metrics" match {
      case JObject(fields) => fields.collect {
        case (k, JLong(v)) => k -> v
        case (k, JInt(v)) => k -> v.toLong
      }.toMap
      case _ => Map.empty[String, Long]
    }
    val txnApp = j \ "txnAppId" match { case JString(v) => Some(v); case _ => None }
    val txnBatch = j \ "txnBatchId" match {
      case JLong(v) => Some(v)
      case JInt(v) => Some(v.toLong)
      case _ => None
    }
    val partCols = j \ "partitionCols" match {
      case JArray(xs) => xs.collect { case JString(v) => v }
      case _ => Nil
    }
    def num(v: JValue): Double = v match {
      case JDouble(d) => d
      case JLong(l) => l.toDouble
      case JInt(i) => i.toDouble
      case JDecimal(d) => d.toDouble
      case other => other.values.toString.toDouble
    }
    val dirStats = j \ "dirStats" match {
      case JObject(dirsF) => dirsF.map { case (dir, colsJ) =>
        dir -> (colsJ match {
          case JObject(colsF) => colsF.collect {
            case (c, JArray(List(lo, hi))) => c -> (num(lo), num(hi))
          }.toMap
          case _ => Map.empty[String, (Double, Double)]
        })
      }.toMap
      case _ => Map.empty[String, Map[String, (Double, Double)]]
    }
    val changesDir = j \ "changesDir" match { case JString(v) => Some(v); case _ => None }
    val properties = j \ "properties" match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty[String, String]
    }
    j \ "tombstoneDirs" match {
      case JArray(xs) if xs.nonEmpty => throw new ValueTombstonesRefused("", lng("version"))
      case _ => ()
    }
    val dvs = j \ "dvDirs" match {
      case JArray(xs) => xs.collect { case JString(v) => v }
      case _ => Nil
    }
    val dirNulls = j \ "dirNulls" match {
      case JObject(dirsF) => dirsF.map { case (dir, colsJ) =>
        dir -> (colsJ match {
          case JObject(colsF) => colsF.collect {
            case (c, JLong(n)) => c -> n
            case (c, JInt(n)) => c -> n.toLong
          }.toMap
          case _ => Map.empty[String, Long]
        })
      }.toMap
      case _ => Map.empty[String, Map[String, Long]]
    }
    val copied = j \ "copiedFiles" match {
      case JArray(xs) => xs.collect { case JString(v) => v }
      case _ => Nil
    }
    Commit(lng("version"), lng("tsMs"), str("operation"), dirs, metrics,
      str("schemaJson"), txnApp, txnBatch, partCols, dirStats, changesDir,
      properties, dvs, copied, dirNulls)
  }
}
