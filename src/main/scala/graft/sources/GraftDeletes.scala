package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.spark.sql.types._

/** POSITIONAL DELETE SIDECARS — the merge-on-read half of the table
  * format's row-level story (the copy-on-write half is
  * [[GraftRowLevelOperation]] / [[GraftMaintenance.update]]).
  *
  * A deletion vector (DV) file lives under `<table>/_graft_deletes/`
  * (underscore-prefixed: invisible to [[GraftParquetV2.listFiles]], so
  * it can never be mistaken for data) and holds rows
  * `(file: data-file BASENAME, pos: 0-based row ordinal within that
  * file)`. Basenames are unique table-wide (every write stamps its
  * UUID into them and the archive collision check enforces it), so the
  * basename IS the stable file identity across live/archive moves.
  * `pos` counts ALL rows of the file in parquet order — including rows
  * a pushed filter would drop — which is exactly the ordinal
  * [[GraftPartitionReader]] tracks (and the built-in reader's
  * `_metadata.row_index`).
  *
  * Lifecycle:
  *   - WRITE: a merge-on-read `UPDATE`/`DELETE`/`MERGE`
  *     ([[GraftDeltaOperation]]) stages DV files next to its data files
  *     and renames them in at commit — a one-row delete costs one tiny
  *     sidecar, not a data-file rewrite (the 100 TB write-amplification
  *     fix; Iceberg v2 position deletes / Delta DVs are the same shape).
  *   - READ: every read path applies the version's DV set —
  *     [[GraftParquetScan]] attaches each file's sorted positions to its
  *     input split (the LIVE set is the `_graft_deletes/` listing; a
  *     `versionAsOf` read uses the DV rels recorded in that snapshot),
  *     and the maintenance paths that read raw files anti-join on
  *     `(_metadata.file_path basename, _metadata.row_index)`
  *     ([[GraftMaintenance.readFilesWithDeletes]]).
  *   - FOLD: any rewrite of a data file (COW update, compaction,
  *     overwrite) reads THROUGH the DVs, so the rewritten generation
  *     materializes them; a DV file whose every referenced basename has
  *     left the live set is then ARCHIVED at the next metadata commit
  *     ([[fullyStale]]) — still resolvable for older snapshots,
  *     reclaimed by vacuum with everything else.
  *
  * Scale posture: DV volume ∝ deleted rows, loaded ONCE per scan
  * planning on the driver (manifest-scale; narrow deletes are the
  * design point — wide rewrites belong on the copy-on-write path, which
  * stays the default mode), and each split serializes only ITS file's
  * positions. Reference context: the reference has no mutation story at
  * all (`/root/reference/pipelines/total_distance.py:92-95` re-reads
  * whole tables); merge-on-read deletes are what make point mutations
  * affordable at 100 TB. */
object GraftDeletes {

  val DeletesDir = "_graft_deletes"

  /** One schema for DV writer AND reader — positional decode must never
    * drift from what the delta writer stages. */
  val dvSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  // driver-side sidecar I/O: the session's Hadoop conf, so
  // spark.hadoop.* settings (object-store credentials) reach the DV
  // reads exactly like the data reads
  private def conf = GraftParquetWrite.sessionConf()

  private def dvDir(table: String) = new Path(table, DeletesDir)

  /** The LIVE DV set: every parquet file under `_graft_deletes/`,
    * sorted (deterministic planning). Empty for a table with no
    * merge-on-read history — the common case, and free (one exists()
    * check). */
  def liveDvFiles(table: String): Seq[String] = {
    val d = dvDir(table)
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      .map(_.toString).sorted
  }

  /** Live DV rels (paths relative to the table root), for snapshot
    * recording. */
  def liveDvRels(table: String): Seq[String] =
    liveDvFiles(table).map(GraftTableLog.relativize(table, _))

  /** Read DV files into basename → COMPRESSED position set
    * ([[GraftDvBitmap]] — roaring-style containers, ~1 bit per row
    * spanned instead of 8 bytes per delete). Runs on the driver at
    * scan planning (or in maintenance paths); transient build cost ∝
    * deleted rows, retained cost the compressed form — tens of
    * millions of deletes hold megabytes, not gigabytes, of planning
    * state, and ship into task closures at the same ratio. */
  def readPositions(dvFiles: Seq[String]): Map[String, GraftDvBitmap] = {
    if (dvFiles.isEmpty) return Map.empty
    val acc = collection.mutable.Map
      .empty[String, collection.mutable.ArrayBuffer[Long]]
    dvFiles.foreach { f =>
      val r = new GraftPartitionReader(f, dvSchema, Array.empty)
      try while (r.next()) {
        val row = r.get()
        acc.getOrElseUpdate(row.getString(0),
          collection.mutable.ArrayBuffer.empty[Long]) += row.getLong(1)
      } finally r.close()
    }
    acc.map { case (k, v) =>
      k -> GraftDvBitmap.fromUnsorted(v.toArray) }.toMap
  }

  /** The live table's merged DV map — the scan's planning input. */
  def livePositions(table: String): Map[String, GraftDvBitmap] =
    readPositions(liveDvFiles(table))

  /** Resolve snapshot DV rels to readable full paths: live
    * `_graft_deletes/` first, then the archive — the DV twin of
    * [[GraftTableLog.resolveAll]], refusing loudly on a vacuumed
    * generation rather than silently resurrecting its deleted rows. */
  def resolveDvRels(table: String, rels: Seq[String]): Seq[String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    rels.map { rel =>
      val live = new Path(root, rel)
      lazy val arch = new Path(new Path(root, GraftTableLog.ArchiveDir), rel)
      if (fs.exists(live)) live.toString
      else if (fs.exists(arch)) arch.toString
      else throw new IllegalStateException(
        s"graft deletes: DV file $rel of the requested version is neither " +
          s"live nor archived under $table — the version was vacuumed")
    }
  }

  /** THE single construction point for a DV parquet writer (schema +
    * codec) — the delta writer streams rows through it per task,
    * [[writeDvFile]] batches; a format change cannot diverge the two. */
  def openDvWriter(out: Path, hadoopConf: Configuration)
      : (org.apache.parquet.hadoop.ParquetWriter[
          org.apache.parquet.example.data.Group], SimpleGroupFactory) = {
    val mt = GraftParquetWrite.messageType(dvSchema)
    (GraftParquetIO.writer(out, mt, hadoopConf), new SimpleGroupFactory(mt))
  }

  /** Write one DV parquet at `out` from (basename, pos) rows. The rows
    * need not be sorted; the reader sorts at load. */
  def writeDvFile(out: Path, rows: Iterator[(String, Long)],
      hadoopConf: Configuration = conf): Long = {
    val (w, factory) = openDvWriter(out, hadoopConf)
    var n = 0L
    try rows.foreach { case (f, p) =>
      val g = factory.newGroup()
      g.add(0, f); g.add(1, p)
      w.write(g)
      n += 1
    } finally w.close()
    n
  }

  /** GC at a metadata commit that removed files: the live DV files
    * (rels) whose every referenced basename has left the live data set
    * (a COW rewrite, compaction, or overwrite replaced the files it
    * pointed at — the rewrite read through the DV, so the deletes are
    * materialized in the new generation). The commit drops them from
    * its pinned DV set and, once its version is claimed, archives them
    * ([[archiveDvs]]). A DV file with ANY live reference stays — its
    * dead rows are inert (planning looks up live basenames only) and
    * they fold away at the next full rewrite. */
  def fullyStale(table: String,
      liveDataBasenames: Set[String]): Seq[String] =
    liveDvFiles(table).filter { f =>
      val refs = collection.mutable.Set.empty[String]
      val r = new GraftPartitionReader(f, dvSchema, Array.empty)
      try while (r.next()) refs += r.get().getString(0) finally r.close()
      refs.nonEmpty && refs.forall(!liveDataBasenames.contains(_))
    }.map(GraftTableLog.relativize(table, _))

  /** Archive DV files (rels). Archived, not deleted: older snapshots
    * still reference them, and [[resolveDvRels]] finds them in the
    * archive until vacuum reclaims them. Staleness is monotone once
    * committed (an archived basename never returns to the live set —
    * names are UUID-unique), so a concurrent committer archiving the
    * same file first is harmless. */
  def archiveDvs(table: String, rels: Seq[String]): Unit = {
    val fs = new Path(table).getFileSystem(conf)
    rels.foreach { rel =>
      val live = new Path(table, rel)
      val dest = new Path(new Path(table, GraftTableLog.ArchiveDir), rel)
      fs.mkdirs(dest.getParent)
      if (fs.exists(live) && !fs.exists(dest))
        require(fs.rename(live, dest),
          s"graft deletes: archive rename failed for $rel under $table")
    }
  }
}
