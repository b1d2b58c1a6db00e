package graft.sources

import org.apache.hadoop.fs.Path

/** The one file swap behind every graft commit that moves staged files
  * into a table: batch appends and overwrites, streaming epochs, SQL
  * copy-on-write and merge-on-read row-level commits, and the
  * [[GraftMaintenance]] rewrites.
  *
  * The order is SHRINK THEN GROW, so a reader racing the swap may see
  * an incomplete table but never the union of the old and new
  * generations (duplicated rows):
  *   1. archive the replaced live files (`_graft_archive/`: prior
  *      versions stay time-travel-readable until vacuum);
  *   2. rename the staged deletion-vector sidecars into
  *      `_graft_deletes/`;
  *   3. rename the staged data files in (staging mirrors the final
  *      layout, partition directories included);
  *   4. commit one metadata version: the prior manifest minus the
  *      archived files plus the new entries.
  * A failure at any step moves every file moved so far back, newest
  * first, so the table stays on its pre-commit generation; the staging
  * tree is removed only after the commit.
  *
  * Concurrency ([[GraftConflicts]]): a caller that archives files or
  * adds DVs holds the table's rewrite lock and has validated its read
  * before calling; appends do neither. The lock is not reentrant, so
  * the swap never takes it. */
object GraftSwap {

  /** Swap the files staged under `staging` into `table` as one new
    * version. `dataRels` are the staged data files (relative to
    * `staging`, landing at the same path relative to `table`) and
    * `entries` their manifest rows; `dvNames` are DV sidecars staged
    * under `staging/_dv/`; `archive` are full paths of live files the
    * commit replaces. `carryPrior = false` starts the manifest from
    * `entries` alone (a full truncate, which archives every live file).
    * `branch` lands the data files in that branch's invisible lineage
    * directory and commits on the branch instead of main. */
  def commit(table: String, writeId: String, staging: Path,
      dataRels: Seq[String], entries: Seq[GraftManifestEntry],
      archive: Seq[String] = Nil, dvNames: Seq[String] = Nil,
      carryPrior: Boolean = true, branch: Option[String] = None): Unit = {
    require(branch.isEmpty || (archive.isEmpty && dvNames.isEmpty),
      "graft commit: branch commits only append")
    val root = new Path(table)
    val fs = root.getFileSystem(GraftParquetWrite.sessionConf())
    val prefix = branch.fold("")(b => s"_branch_$b/$writeId/")
    // applied moves (from, to), newest first — exactly what undo reverses
    var moved = List.empty[(Path, Path)]
    def move(from: Path, to: Path): Unit = {
      require(fs.rename(from, to),
        s"graft commit: rename failed for $from under $table")
      moved ::= (from, to)
    }
    try {
      archive.foreach { f =>
        GraftTableLog.archiveFile(table, f)
        val rel = GraftTableLog.relativize(table, f)
        moved ::= (new Path(root, rel),
          new Path(new Path(root, GraftTableLog.ArchiveDir), rel))
      }
      if (dvNames.nonEmpty) {
        val dvDir = new Path(root, GraftDeletes.DeletesDir)
        fs.mkdirs(dvDir)
        dvNames.foreach(n =>
          move(new Path(staging, s"_dv/$n"), new Path(dvDir, n)))
      }
      dataRels.foreach { rel =>
        val dest = new Path(root, prefix + rel)
        if ((prefix + rel).contains("/")) fs.mkdirs(dest.getParent)
        move(new Path(staging, rel), dest)
      }
      branch match {
        case Some(b) =>
          GraftParquetWrite.commitBranchMetadata(table, b,
            dataRels.map(prefix + _), entries, writeId)
        case None =>
          val gone = archive.map(f => new Path(f).getName).toSet
          val prior =
            if (!carryPrior) Nil
            else GraftParquetWrite.rawManifestEntries(table)
              .filterNot(e => gone.contains(e.file))
          GraftParquetWrite.commitMetadata(table, prior ++ entries,
            writeId, removed = archive)
      }
    } catch {
      case e: Throwable =>
        moved.foreach { case (from, to) =>
          fs.mkdirs(from.getParent)
          if (!fs.rename(to, from))
            System.err.println(s"[graft] commit undo FAILED to move $to " +
              s"back to $from under $table - restore it manually")
        }
        throw e
    }
    fs.delete(staging, true)
  }
}
