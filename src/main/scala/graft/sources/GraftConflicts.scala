package graft.sources

import org.apache.hadoop.fs.Path

/** A row-level rewrite (UPDATE / DELETE / MERGE / compact / recluster)
  * lost to a concurrent committer: the read snapshot it planned
  * against is no longer the table head in a way that would make its
  * commit a LOST UPDATE (the snapshot-isolation write-skew /
  * stale-read family Delta reports as
  * `ConcurrentDeleteReadException` / `ConcurrentWriteException`).
  * Always RETRYABLE: nothing has been committed and the table is
  * untouched — re-plan against the new head and re-run the operation.
  */
class GraftConcurrentWriteException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause) {
  /** Contract marker: the failed operation left no partial state and
    * a fresh attempt against the current head is expected to succeed
    * (absent further contention). */
  val retryable: Boolean = true
}

/** Optimistic concurrency for ROW-LEVEL REWRITE commits.
  *
  * Appends have the optimistic version claim
  * ([[GraftParquetWrite.commitMetadata]]) and branch heads have CAS
  * ([[GraftTableLog.casBranchHead]]); this object covers the last
  * writer class — commits that REMOVE files from the live set or add
  * deletion vectors. Every one of them holds the lock (and, where it
  * read the table, validates) around its [[GraftSwap]]:
  *   - SQL `UPDATE` / `MERGE INTO` / `DELETE`, the Scala API's
  *     [[GraftMaintenance]] delete / update / merge (the same Spark
  *     commands) and every `TableDrain` epoch (copy-on-write,
  *     [[GraftRowLevelWrite]]: read captured when the operation is
  *     built, MERGE serializable);
  *   - merge-on-read commits ([[GraftDeltaWrite]]: no read state —
  *     it checks instead that every data file its DVs reference is
  *     still live);
  *   - `TRUNCATE` ([[GraftParquetTable.truncateTable]]);
  *   - overwrites (compact validates its `conflictReadVersion`
  *     serializably; a user overwrite replaces whatever is there);
  *   - the file-granular rewrites of [[GraftMaintenance]]
  *     (compactSmallFiles / recluster / rewriteDeletes).
  * Plain appends and streaming epochs take neither. Every swap undoes
  * a failed grow, so a refusal or a failed rename leaves the table on
  * its pre-commit generation. Two cooperating pieces:
  *
  * 1. '''The rewrite lock''' ([[withRewriteLock]]): one exclusive-
  *    create lock file per table serializes the PHYSICAL
  *    shrink-then-grow window (archive candidates → rename rewrites
  *    in → metadata commit). Not reentrant: callers take it, the swap
  *    never does. Without it, two overlapping windows can
  *    interleave their listings: writer A lists while writer B is
  *    mid-shrink and commits a snapshot that is silently missing B's
  *    rows. The lock covers only the rename+commit window — the
  *    EXPENSIVE part of a rewrite (the Spark job computing the
  *    rewritten rows) runs before it, so disjoint rewrites overlap
  *    their compute and serialize only renames, which is what keeps
  *    the discipline viable on a 100 TB table. A crashed holder's
  *    lock ages out ([[LockHorizonMs]], mtime-based — the torn-
  *    snapshot heal discipline) and is broken by the next writer.
  *
  * 2. '''Read-snapshot validation''' ([[validateRewrite]]): under the
  *    lock, before any file moves, the operation's read snapshot
  *    ([[captureRead]], taken before it planned) is checked against
  *    the current head. Serializable operations (MERGE, whose
  *    match/no-match decisions read the WHOLE table; compact, which
  *    rewrites it) refuse on ANY head movement. Snapshot-isolation
  *    operations (UPDATE / DELETE / recluster / rewriteDeletes, whose
  *    read set is their candidate files) refuse only when a
  *    concurrent commit removed a candidate file or changed
  *    merge-on-read deletes touching one — concurrent appends and
  *    disjoint rewrites commute with them (the Delta
  *    WriteSerializable level). A refusal throws
  *    [[GraftConcurrentWriteException]] with the table UNTOUCHED.
  *
  * Known residual (documented, pre-existing): a plain APPEND that
  * commits while a rewrite holds the lock lists the table mid-shrink
  * and its own snapshot may omit the in-flight candidates; the live
  * head heals at the rewrite's commit (the overwrite protocol's
  * "stale metadata, never wrong data" rule). Appends deliberately do
  * not take the lock — they are the high-frequency path.
  *
  * Reference context: the reference pipeline has no table format at
  * all (`/root/reference/pipelines/total_distance.py` writes text);
  * optimistic rewrite conflicts are part of graft's lakehouse
  * extension surface, following the published Delta/Iceberg commit
  * protocols.
  */
object GraftConflicts {

  /** Table-root lock file (underscore-prefixed: invisible to scans). */
  val LockName = "_graft_rewrite.lock"

  private def conf = GraftParquetWrite.sessionConf()

  private def lockPath(table: String) = new Path(table, LockName)

  /** How long a contender waits for the lock before refusing
    * (retryable). Rewrite windows are rename-only, so seconds-scale
    * contention means a genuinely concurrent rewrite storm — refusing
    * beats queueing unboundedly. */
  private val LockWaitMs = 60000L

  /** Age past which a lock is presumed a crashed holder's and broken.
    * The window it guards is O(renames + one metadata commit); 10 min
    * comfortably exceeds it even on a congested object store (same
    * rationale as the torn-snapshot heal horizon in
    * [[GraftTableLog]]). */
  private val LockHorizonMs = 600000L

  /** Run `body` holding the table's cross-JVM rewrite lock. */
  def withRewriteLock[T](table: String)(body: => T): T = {
    val p = lockPath(table)
    val fs = p.getFileSystem(conf)
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + LockWaitMs
    var held = false
    while (!held) {
      val out =
        try Some(GraftFsContract.exclusiveCreate(fs, p))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.io.IOException => None
        }
      out match {
        case Some(o) =>
          // claim won — body identifies the holder so release (and a
          // post-break holder) can tell own lock from a successor's
          try o.write(token.getBytes("UTF-8")) finally o.close()
          held = true
        case None =>
          val st = try Some(fs.getFileStatus(p)) catch {
            case _: java.io.FileNotFoundException => None // freed; retry
          }
          val aged = st.exists(s =>
            System.currentTimeMillis() - s.getModificationTime >
              LockHorizonMs)
          if (aged) {
            // crashed holder: break and re-contend (two breakers race
            // the delete harmlessly — one create wins the re-claim)
            try fs.delete(p, false) catch { case _: Exception => () }
          } else if (st.isDefined) {
            if (System.currentTimeMillis() > deadline)
              throw new GraftConcurrentWriteException(
                s"graft rewrite: timed out after $LockWaitMs ms " +
                  s"waiting for the rewrite lock under $table — a " +
                  "concurrent rewrite/compaction holds it; retry the " +
                  "operation")
            Thread.sleep(100L)
          }
      }
    }
    try body finally {
      // release ONLY our own lock: if it aged out mid-body and a
      // breaker re-claimed, deleting would unlock the new holder
      val mine =
        try GraftFsContract.readBody(fs, p) == token
        catch { case _: Exception => false }
      if (mine) {
        try fs.delete(p, false) catch { case _: Exception => () }
      }
    }
  }

  /** `body` — a scan's open or row-group read of the planned `file` —
    * with a vanished file retyped: a concurrent rewrite's commit
    * archived it after planning, the retryable conflict it is, not an
    * I/O failure (a SQL MERGE racing a compaction re-plans and
    * retries). */
  def vanishedAsConflict[T](file: String)(body: => T): T =
    try body catch {
      case e: java.io.FileNotFoundException =>
        throw new GraftConcurrentWriteException(s"graft scan: $file " +
          "vanished after planning (a concurrent rewrite committed) — " +
          "re-plan against the new head and retry", e)
    }

  /** The read snapshot an operation plans against: the head version
    * and the live deletion-vector set at capture time. Take it BEFORE
    * planning (before the connector read) so the captured state is
    * never newer than what the plan actually saw. */
  final case class RewriteReadState(version: Long, dvRels: Set[String])

  def captureRead(table: String): RewriteReadState =
    RewriteReadState(
      GraftTableLog.latestVersion(table).getOrElse(0L),
      GraftDeletes.liveDvRels(table).toSet)

  /** Validate, under the rewrite lock and before any file motion, that
    * committing a rewrite planned at `read` is not a lost update.
    * Throws [[GraftConcurrentWriteException]] (table untouched) on
    * conflict; returns normally when the commit is safe. */
  def validateRewrite(table: String, read: RewriteReadState,
      candidates: Seq[String], serializable: Boolean): Unit = {
    val head = GraftTableLog.latestVersion(table).getOrElse(0L)
    val dvNow = GraftDeletes.liveDvRels(table).toSet
    if (head == read.version && dvNow == read.dvRels) return
    if (serializable) throw new GraftConcurrentWriteException(
      s"graft rewrite conflict under $table: the operation read " +
        s"version ${read.version} but a concurrent commit moved the " +
        s"table (head $head" +
        (if (dvNow != read.dvRels) ", merge-on-read deletes changed"
        else "") +
        ") — serializable rewrites (MERGE, compact) must re-plan " +
        "against the new head; retry the operation")
    def base(s: String) = new Path(s).getName
    val candBase = candidates.map(base).toSet
    // candidate liveness via the HEAD SNAPSHOT (one log read, never a
    // per-file RPC storm): under the lock no rewrite is mid-shrink,
    // and validation precedes OUR shrink, so a concurrent append's
    // snapshot listed the candidates too — absence means a COMMITTED
    // rewrite/overwrite really removed them
    val headBase: Set[String] =
      if (head == 0L) Set.empty
      else GraftTableLog.readSnapshot(table, head)._1.map(base).toSet
    val gone = candBase.diff(headBase)
    if (gone.nonEmpty) throw new GraftConcurrentWriteException(
      s"graft rewrite conflict under $table: a concurrent commit " +
        s"(head ${read.version} -> $head) removed ${gone.size} file(s) " +
        s"this rewrite read [${gone.take(3).mkString(", ")}" +
        (if (gone.size > 3) ", …" else "") +
        "] — re-plan against the new head and retry")
    // merge-on-read deletes that landed on (or left) a candidate file
    // since the read: the rewrite's rows were computed under the OLD
    // delete set, so committing would resurrect the deleted rows
    val dvDelta = dvNow.diff(read.dvRels) ++ read.dvRels.diff(dvNow)
    if (dvDelta.nonEmpty) {
      val touched = GraftDeletes.readPositions(
        GraftDeletes.resolveDvRels(table, dvDelta.toSeq))
        .keySet.intersect(candBase)
      if (touched.nonEmpty) throw new GraftConcurrentWriteException(
        s"graft rewrite conflict under $table: concurrent merge-on-read " +
          s"deletes touched ${touched.size} candidate file(s) " +
          s"[${touched.take(3).mkString(", ")}] since the read snapshot " +
          s"(version ${read.version}) — re-plan and retry")
    }
  }
}
