package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ row-level operation for graft tables — the
  * [[org.apache.spark.sql.connector.write.SupportsDelta]] twin of the
  * copy-on-write [[GraftRowLevelOperation]], selected per session via
  * `SET spark.graft.rowLevelMode = merge-on-read`
  * ([[GraftParquetTable.ModeConf]]).
  *
  * Spark's rewrite rules (`RewriteUpdateTable` / `RewriteDeleteFromTable`
  * / `RewriteMergeIntoTable`) see SupportsDelta and plan a WriteDelta
  * job instead of ReplaceData: the scan reads ONLY matching rows (full
  * row-granularity filter pushdown — unlike the COW scan, nothing needs
  * to be carried through for rewrite), each row arrives tagged with its
  * ROW ID — the connector's `(_graft_file, _graft_pos)` metadata
  * columns ([[GraftMeta]]) — and the writer receives per-row
  * delete/insert calls (updates arrive as delete+insert,
  * [[GraftDeltaOperation.representUpdateAsDeleteAndInsert]]):
  *
  *   - DELETE(id) → one `(basename, pos)` row in a positional-delete
  *     sidecar staged next to the data files ([[GraftDeletes]]);
  *   - INSERT(row) → an ordinary staged data file (the updated images);
  *   - COMMIT → under the table's rewrite lock, check every data file
  *     the DVs reference is still live, then the [[GraftSwap]]: rename
  *     the DV files into `_graft_deletes/` (shrink: deleted rows
  *     vanish), rename the image files in (grow), then one metadata
  *     version whose snapshot pins the new DV set; a failed grow is
  *     undone. No data file is ever read-and-rewritten.
  *
  * 100 TB posture: a one-row UPDATE against a 1 GB file costs one tiny
  * sidecar + one tiny image file instead of a 1 GB rewrite — the write
  * amplification that makes pure COW untenable for point mutations
  * (Iceberg v2 position deletes / Delta deletion vectors are the same
  * answer). Reads pay an ordinal-merge per scan, folded away by the
  * next compaction ([[GraftDeletes]] lifecycle). Wide mutations should
  * stay on the COW default — rewriting the files is cheaper than
  * carrying DVs over most of their rows. */
class GraftDeltaOperation(path: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** A NORMAL scan, full pushdown included: merge-on-read needs only
    * the MATCHING rows (their ids to delete, their images to replace),
    * so the command's condition may prune files, row groups, and rows
    * — the opposite of the COW scan's file-granularity contract. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(path, tableSchema, aliases = aliases)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        GraftParquetWrite.messageType(tableSchema) // plan-time validation
        new GraftDeltaWrite(path, tableSchema)
      }
    }

  /** Row identity = (file, position): the two metadata columns the
    * scan synthesizes per row — exactly what a positional delete
    * needs, nothing else read or shipped. */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftMeta.FileCol),
      Expressions.column(GraftMeta.PosCol))

  /** UPDATE splits into DELETE + INSERT — the natural shape for
    * positional deletes (the old image's position dies, the new image
    * is a plain append; there is no in-place row to mutate). */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"graft merge-on-read $cmd on $path"
}

/** Commit message of one delta task: staged data-file rels + their
  * footer stats (the ordinary append payload) plus the staged
  * deletion-vector file names. */
final case class GraftDeltaCommitMessage(files: Seq[String],
    stats: Seq[GraftManifestEntry], dvFiles: Seq[String])
    extends WriterCommitMessage

/** Driver half of the merge-on-read write: stage, then the
  * DV-first/data-second rename commit and one metadata version. */
class GraftDeltaWrite(path: String, tableSchema: StructType)
    extends DeltaWrite with DeltaBatchWrite {
  private val writeId = UUID.randomUUID().toString
  // driver-side commit/abort: session Hadoop conf, like the COW twin
  private def conf = GraftParquetWrite.sessionConf()

  // `col=value` tables stage inserted images under the same layout;
  // a FRESH declared-partitioned table (spec persisted, no data yet)
  // has no keyed layout to infer — fall back to the DDL spec
  private val partCols: Seq[String] =
    GraftCatalog.effectivePartCols(path, tableSchema)

  override def toBatch: DeltaBatchWrite = this
  override def description(): String =
    s"GraftDeltaWrite path=$path (merge-on-read positional deletes)"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory =
    GraftDeltaWriterFactory(path, tableSchema, writeId, partCols,
      // MOR update images are ordinary appends — they maintain bloom
      // sidecars like any other write (spec resolved driver-side)
      try GraftBloom.readSpec(path) catch { case _: Exception => None },
      // CHECK constraints apply to MOR update images too
      GraftConstraints.boundFor(
        org.apache.spark.sql.SparkSession.active, path, tableSchema),
      GraftSerConf.session())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    val staging = new Path(path, s"_staging-$writeId")
    val msgs = messages.collect { case m: GraftDeltaCommitMessage => m }
    val dataRels = msgs.flatMap(_.files).toSeq
    val dvNames = msgs.flatMap(_.dvFiles)
    if (dataRels.isEmpty && dvNames.isEmpty) {
      // nothing matched and nothing inserted: a provable no-op
      fs.delete(staging, true)
      return
    }
    // The whole physical commit runs under the table's rewrite lock
    // ([[GraftConflicts]]): the staged DVs reference data files BY
    // BASENAME, and a COW rewrite/compaction racing this commit could
    // archive a referenced file — the DV would land pointing at a dead
    // basename and its deletes would be silently inert (a lost MOR
    // delete) while the inserted images still landed (duplicated
    // rows). Under the lock, validate every referenced basename is
    // still live; a conflict refuses (retryable) with staging cleaned
    // and the table untouched.
    GraftConflicts.withRewriteLock(path) {
      if (dvNames.nonEmpty) {
        val refs = GraftDeletes.readPositions(
          dvNames.map(n => new Path(staging, s"_dv/$n").toString).toSeq)
          .keySet
        val live = (try GraftParquetV2.listFiles(path) catch {
          case _: java.io.FileNotFoundException => Nil
        }).map(f => new Path(f).getName).toSet
        val gone = refs.diff(live)
        if (gone.nonEmpty) {
          fs.delete(staging, true)
          throw new GraftConcurrentWriteException(
            s"graft delta commit conflict under $path: ${gone.size} " +
              s"file(s) this row-level operation read were replaced by a " +
              s"concurrent rewrite [${gone.take(3).mkString(", ")}] — " +
              "re-run the operation against the new head")
        }
      }
      // DVs in before images (the swap's shrink-then-grow: deleted
      // rows vanish before their replacement images appear); every
      // prior file carries by reference — nothing is removed
      GraftSwap.commit(path, writeId, staging, dataRels,
        msgs.flatMap(_.stats).toSeq, dvNames = dvNames.toSeq)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    fs.delete(new Path(path, s"_staging-$writeId"), true)
  }
}

case class GraftDeltaWriterFactory(path: String, schema: StructType,
    writeId: String, partCols: Seq[String],
    bloomSpec: Option[(Seq[String], Double)] = None,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    // the driver session's Hadoop conf, shipped so the task's image
    // files AND its DV sidecar keep spark.hadoop.* settings
    serConf: GraftSerConf = GraftSerConf.session())
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DeltaWriter[InternalRow] =
    new GraftDeltaWriter(path, schema, writeId, partitionId, taskId,
      partCols, bloomSpec, constraints, serConf)
}

/** Task half: inserts flow to an ordinary [[GraftDataWriter]]; deletes
  * stream straight into ONE staged DV parquet per task (opened lazily,
  * no buffering — task memory stays O(1) no matter how many rows die).
  * `_graft_pos` ordinals arrive ascending per scanned file, but the DV
  * format doesn't rely on it — the planning-time loader sorts. */
class GraftDeltaWriter(path: String, schema: StructType, writeId: String,
    partitionId: Int, taskId: Long, partCols: Seq[String],
    bloomSpec: Option[(Seq[String], Double)] = None,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    serConf: GraftSerConf = GraftSerConf.session())
    extends DeltaWriter[InternalRow] {
  private val inner =
    new GraftDataWriter(path, schema, writeId, partitionId, taskId,
      partCols, bloomSpec, constraints, serConf)
  private val staging = new Path(path, s"_staging-$writeId")
  private val dvName = f"dv-$partitionId%05d-$taskId-$writeId.parquet"
  private var dvWriter: ParquetWriter[Group] = null
  private var dvFactory: SimpleGroupFactory = null
  private var dvRows = 0L
  private var closed = false

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val full = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    // basename = the table-wide-unique file identity the DV format
    // keys on (full paths would break across live→archive moves)
    val base = full.substring(full.lastIndexOf('/') + 1)
    if (dvWriter == null) {
      val (w, factory) = GraftDeletes.openDvWriter(
        new Path(new Path(staging, "_dv"), dvName), serConf.value)
      dvWriter = w
      dvFactory = factory
    }
    val g = dvFactory.newGroup()
    g.add(0, base); g.add(1, pos)
    dvWriter.write(g)
    dvRows += 1
  }

  override def insert(row: InternalRow): Unit = inner.write(row)

  /** Defensive only — representUpdateAsDeleteAndInsert means Spark
    * never calls this; keep the semantics anyway. */
  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    if (dvWriter != null) { dvWriter.close() }
    closed = true
    val dataMsg = inner.commit() match {
      case GraftCommitMessage(fsq, stats) => (fsq, stats)
    }
    GraftDeltaCommitMessage(dataMsg._1, dataMsg._2,
      if (dvRows > 0) Seq(dvName) else Nil)
  }

  override def abort(): Unit = {
    if (!closed && dvWriter != null) { dvWriter.close(); closed = true }
    inner.abort()
    val fs = staging.getFileSystem(serConf.value)
    fs.delete(new Path(new Path(staging, "_dv"), dvName), false)
  }

  override def close(): Unit = {
    if (!closed && dvWriter != null) { dvWriter.close() }
    closed = true
    inner.close()
  }
}
