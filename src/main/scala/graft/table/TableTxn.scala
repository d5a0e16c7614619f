package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** One optimistic commit against a NATIVE graft table — the cycle Delta's
  * OptimisticTransaction runs (Delta Lake, VLDB 2020), shared by every
  * [[GraftTable]] verb that publishes a version: resolve the snapshot,
  * stage against it, publish `head + 1` through [[CommitLog.commit]], and
  * when a rival wins that version let the verb's conflict rule decide
  * against the new head. The cycle owns the snapshot and its missing-table
  * refusal, the `delta.appendOnly` gate, the 20-attempt bound, restarts,
  * CDF stamping at the version actually committed, the publish and the
  * lost-race refusal; a verb supplies its staging, its conflict rule, the
  * commit it builds over a head and its CDF rows ([[TableTxn.Staged]]).
  *
  * Reaping: staging registered through [[stage]] (and the CDF dirs the
  * cycle writes) is deleted on every path where no commit of ours
  * references it — a refusal, already committed, a restart, retry
  * exhaustion, and any exception raised before the publish is entered. A
  * publish that won is never reaped; an exception from inside the publish
  * other than the lost race leaves staging in place, because the commit
  * may have landed (`vacuum(full = true)` sweeps such debris).
  *
  * `what` names the verb in the exhaustion refusal ("append to <root>");
  * `removes` names a row-removing verb for the append-only refusal. */
private[table] final class TableTxn(table: GraftTable, what: String,
    removes: Option[String] = None) {
  import TableTxn._

  /** The timestamp every attempt commits (and stamps CDF rows) with. */
  val tsMs: Long = System.currentTimeMillis()
  private val staging = scala.collection.mutable.ArrayBuffer.empty[String]
  // Set on entering a publish, cleared when that publish lost: while set,
  // the commit may have landed and its staging must stay.
  private var publishing = false

  /** Registers `dir` (relative to the table root) as staging BEFORE
    * anything is written there; returns it. */
  def stage(dir: String): String = { staging += dir; dir }

  private def reap(): Unit = {
    staging.foreach(d => table.fs.delete(new Path(table.root, d), true))
    staging.clear()
  }

  /** The optimistic loop. Attempt 1 publishes over the snapshot `prepare`
    * staged against — `from`, else the head, else `ifAbsent`; every later
    * attempt re-resolves the head a rival moved and the conflict rule
    * decides: [[Rebase]] builds over it, [[Committed]] answers None,
    * [[Refuse]] throws [[ConcurrentWriteException]] and [[Restart]] stages
    * again from it. */
  def commit(from: Option[Commit] = None,
      ifAbsent: => Commit = throw new NoSuchElementException(s"no table at ${table.root}"))(
      prepare: Commit => Staged): Option[Commit] =
    try attempts(from.orElse(table.log.latest()).getOrElse(ifAbsent), prepare)
    catch {
      case e: Throwable =>
        if (!publishing) reap()
        throw e
    }

  private def attempts(snapshot: Commit, prepare: Commit => Staged): Option[Commit] = {
    var head = snapshot
    var plan = Option.empty[Staged]
    var chDir: Option[String] = None
    var chVersion = -1L
    var chCounts = Map.empty[String, Long]
    var attempt = 0
    while (attempt < MaxAttempts) {
      attempt += 1
      if (attempt > 1) head = table.log.latest().get
      gate(head)
      // Attempt 1 stages against the snapshot, as a restart would.
      plan.fold[Conflict](Restart)(_.conflict(head)) match {
        case Rebase => ()
        case Committed => reap(); return None
        case Refuse(message) => throw new ConcurrentWriteException(message)
        case Restart =>
          reap(); chDir = None; chVersion = -1L
          plan = Some(prepare(head))
      }
      val staged = plan.get
      // CDF rows carry the version they ACTUALLY commit at (the Delta
      // contract readChanges consumers key incremental state on): written
      // at the candidate version and re-written whenever a rebase moves it.
      // The re-write is deterministic — the rows read only the snapshot's
      // immutable dirs — and the superseded dir is unreferenced.
      staged.changes.filter(_ => chVersion != head.version + 1).foreach { rows =>
        chDir.foreach { d =>
          table.fs.delete(new Path(table.root, d), true); staging -= d }
        chVersion = head.version + 1
        val d = stage(table.changesDirName(chVersion))
        chCounts = table.writeChanges(rows, d, chVersion, tsMs)
        chDir = Some(d)
      }
      val c = staged.build(Attempt(head, tsMs, chDir, chCounts))
      table.beforeCommitHook()
      publishing = true
      try { table.log.commit(c); return Some(c) }
      catch { case _: IllegalStateException => publishing = false }
    }
    throw new ConcurrentWriteException(s"$what lost $MaxAttempts version races")
  }

  /** Delta `delta.appendOnly=true` enforcement for row-removing verbs: an
    * append-only table (audit logs, immutable event stores) refuses every
    * operation that removes or rewrites existing rows; appends, OPTIMIZE
    * and metadata commits stay legal. Checked on the snapshot and on every
    * head a rebase commits over, so unsetting the property first (one
    * metadata commit) is the escape hatch. */
  private def gate(snapshot: Commit): Unit = removes.foreach { op =>
    if (snapshot.properties.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      throw new UnsupportedOperationException(
        s"$op on ${table.root}: the table is append-only (delta.appendOnly=true); " +
          "UNSET the property first to mutate existing rows")
  }
}

private[table] object TableTxn {

  val MaxAttempts = 20

  /** The table before its first commit: what creating verbs stage against. */
  val Unborn: Commit = Commit(-1L, 0L, "", Nil, Map.empty, new StructType().json)

  /** A verb's staging over one snapshot: its conflict rule for a head a
    * rival moved, the commit it builds over a head, and its CDF rows. */
  final case class Staged(conflict: Commit => Conflict,
      build: Attempt => Commit, changes: Option[DataFrame] = None)

  /** One publish attempt: the head it commits over, the commit timestamp,
    * and the CDF dir the cycle wrote at this version with its rows per
    * change type. */
  final case class Attempt(head: Commit, tsMs: Long,
      changesDir: Option[String], changes: Map[String, Long]) {
    def version: Long = head.version + 1
    def changed(changeType: String): Long = changes.getOrElse(changeType, 0L)
  }

  /** A conflict rule's answer over a head a rival moved. */
  sealed trait Conflict
  /** Build over the new head and publish again. */
  case object Rebase extends Conflict
  /** The rival already committed this work: reap and answer None. */
  case object Committed extends Conflict
  /** Reap and throw [[ConcurrentWriteException]] with the verb's message. */
  final case class Refuse(message: String) extends Conflict
  /** Reap and stage again from the new head. */
  case object Restart extends Conflict
}
