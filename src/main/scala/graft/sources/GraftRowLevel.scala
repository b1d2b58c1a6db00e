package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based COPY-ON-WRITE row-level operation for graft tables — the
  * machinery behind SQL `UPDATE`, `MERGE INTO` and `DELETE`, and the
  * Scala API's [[GraftMaintenance.delete]] / `update` / `merge`, which
  * build the same commands
  * ([[GraftParquetTable.newRowLevelOperationBuilder]]).
  *
  * Spark's rewrite rules (`RewriteUpdateTable` et al.) turn the command
  * into a ReplaceData job: read the affected GROUPS (files, here),
  * apply the command's per-row semantics in the query, write every
  * surviving row of those groups back, and have the connector swap the
  * groups at commit. The connector's two jobs:
  *
  *   - '''Scan''' ([[GraftRowLevelScan]]): Spark pushes the command's
  *     condition for GROUP-granularity pruning
  *     (GroupBasedRowLevelOperationScanPlanning). The scan uses it to
  *     prune candidate FILES with the same zone-map refutation engine
  *     as a normal read — but claims nothing as pushed and hands no
  *     filter to the readers: a candidate file's non-matching rows MUST
  *     flow through to the write (Spark re-evaluates the condition
  *     per row inside the ReplaceData query). The planned candidate
  *     list is recorded on the operation for the write's commit.
  *   - '''Write''' ([[GraftRowLevelWrite]]): tasks stage rewritten
  *     files exactly like a normal batch append; commit takes the
  *     table's rewrite lock, validates the read snapshot captured when
  *     the operation was built ([[GraftConflicts.validateRewrite]]:
  *     MERGE serializably, UPDATE / DELETE against their candidates),
  *     and runs the [[GraftSwap]]: archive the candidates (shrink),
  *     rename the staged files in (grow), commit one new metadata
  *     version whose manifest is prior − candidates + rewritten. A
  *     racing reader sees the documented shrink-then-grow window, never
  *     a duplicated union; a failed grow is undone (staged files back
  *     out, candidates un-archived). A stale read refuses with a
  *     retryable [[GraftConcurrentWriteException]], table untouched.
  *
  * 100 TB posture: an UPDATE touching one key range of a clustered
  * table rewrites that range's files; everything else carries into the
  * new version by reference. Reference context: the reference has no mutation story
  * at all (BigQuery tables are re-read wholesale each run,
  * `/root/reference/pipelines/total_distance.py:92-95`); row-level SQL
  * mutation with selective rewrite is what a lakehouse user expects in
  * its place. */
class GraftRowLevelOperation(path: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command,
    aliases: Map[String, Seq[String]] = Map.empty,
    private[sources] val read: GraftConflicts.RewriteReadState)
    extends RowLevelOperation {

  /** Candidate files, recorded at scan PLANNING time (driver), consumed
    * by the write's commit (driver) — one instance spans both halves of
    * the ReplaceData plan by API design (RowLevelOperationTable holds
    * this operation and derives both builders from it). */
  @volatile private[sources] var plannedCandidates: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(path, tableSchema, this, aliases)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        GraftParquetWrite.messageType(info.schema()) // plan-time validation
        new GraftRowLevelWrite(path, info.schema(),
          GraftRowLevelOperation.this)
      }
    }

  override def description(): String = s"graft copy-on-write $cmd on $path"
}

/** Scan builder for the row-level read: accepts the command's condition
  * for FILE pruning only. `pushFilters` returns every filter as
  * residual and `pushedFilters()` stays empty — the contract that makes
  * Spark re-apply the condition per row, which group-level pruning
  * depends on for correctness. */
class GraftRowLevelScanBuilder(path: String, tableSchema: StructType,
    op: GraftRowLevelOperation,
    aliases: Map[String, Seq[String]] = Map.empty) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var groupFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    groupFilters = filters.filter(GraftFilterEval.supports(_, tableSchema))
    filters // ALL residual — group granularity, never row granularity
  }
  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftRowLevelScan(path, required, groupFilters, tableSchema, op,
      aliases)
}

/** The row-level read: delegates file planning and reading to
  * [[GraftParquetScan]] with the condition as `fileOnlyFilters`
  * (candidate pruning without row filtering), and records the planned
  * candidate set on the operation for the commit. */
class GraftRowLevelScan(path: String, required: StructType,
    groupFilters: Array[Filter], tableSchema: StructType,
    op: GraftRowLevelOperation,
    aliases: Map[String, Seq[String]] = Map.empty) extends Scan with Batch {

  private val inner = GraftParquetScan(path, required,
    pushed = Array.empty, tableSchema = tableSchema,
    fileOnlyFilters = groupFilters, aliases = aliases)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val parts = inner.planInputPartitions()
    op.plannedCandidates =
      Some(parts.toSeq.map(_.asInstanceOf[GraftFilePartition].file))
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    inner.createReaderFactory()

  override def description(): String =
    s"GraftRowLevelScan path=$path, " +
      s"ReadSchema: ${required.catalogString}, " +
      s"CandidateFilters: [${groupFilters.mkString(", ")}] (file-granularity)"
}

/** The row-level write: stages rewritten rows like a normal batch
  * append ([[GraftDataWriter]] — partition directories preserved for
  * `col=value` tables), then commits the candidate-file swap. */
class GraftRowLevelWrite(path: String, schema: StructType,
    op: GraftRowLevelOperation) extends Write with BatchWrite {
  private val writeId = UUID.randomUUID().toString
  // commit/abort run on the DRIVER: use the session's Hadoop conf so
  // spark.hadoop.* settings reach the swap's filesystem operations
  private def conf = GraftParquetWrite.sessionConf()

  // `col=value` tables rewrite under the same layout — partition values
  // ride in the data files (the write path's Iceberg convention), so
  // the writer just needs the column list; a fresh declared-partitioned
  // table falls back to the persisted DDL spec
  private val partCols: Seq[String] =
    GraftCatalog.effectivePartCols(path, schema)

  override def toBatch: BatchWrite = this
  override def description(): String =
    s"GraftRowLevelWrite path=$path (copy-on-write group swap)"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    GraftRowLevelWriterFactory(
      GraftDataWriterFactory(path, schema, writeId, partCols,
        // COW rewrites maintain bloom sidecars too — rewritten files
        // re-cover at write time instead of decaying to conservative
        try GraftBloom.readSpec(path) catch { case _: Exception => None },
        // CHECK constraints apply to rewritten rows: an UPDATE that
        // SETs a violating value refuses here
        GraftConstraints.boundFor(
          org.apache.spark.sql.SparkSession.active, path, schema)),
      schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(path, s"_staging-$writeId")
    val candidates = op.plannedCandidates.getOrElse(
      throw new IllegalStateException(
        "graft row-level write: commit before the operation's scan was " +
          "planned — ReplaceData contract violated"))
    val msgs = messages.collect { case m: GraftCommitMessage => m }
    val rels = msgs.flatMap(_.files).toSeq
    if (candidates.isEmpty && rels.isEmpty) {
      // zone maps refuted every file: a provable no-op — no new version
      staging.getFileSystem(conf).delete(staging, true)
      return
    }
    // the candidates out, the rewritten files in, one version whose
    // manifest is prior − candidates + rewritten: under the rewrite
    // lock, after validating the read snapshot — MERGE serializably
    // (its insert decisions read the whole table), UPDATE / DELETE
    // against their candidate files
    GraftConflicts.withRewriteLock(path) {
      GraftConflicts.validateRewrite(path, op.read, candidates,
        serializable = op.command() == RowLevelOperation.Command.MERGE)
      GraftSwap.commit(path, writeId, staging, rels,
        msgs.flatMap(_.stats).toSeq, archive = candidates)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf)
    fs.delete(new Path(path, s"_staging-$writeId"), true)
  }
}

/** Writer factory that strips Spark's prepended `__row_operation`
  * column before handing rows to the ordinary [[GraftDataWriter]].
  *
  * Spark 4's group-based rewrites (`RewriteUpdateTable` /
  * `RewriteMergeIntoTable`) prepend an integer OPERATION column to the
  * ReplaceData query. The exec only projects it away when the operation
  * declares `requiredMetadataAttributes` (ReplaceDataExec.writingTask:
  * metadataProjection == None ⇒ plain DataWritingSparkTask ⇒ RAW query
  * rows reach the writer). This connector needs no metadata columns, so
  * the strip happens here instead — the same `ProjectingInternalRow`
  * Spark's own DataAndMetadataWritingSparkTask uses, positions 1..n
  * (the rewrite builds the query as `operation +: table columns`).
  * Rows that already match the write schema (a ReplaceData shape with
  * no operation column) pass through untouched; anything else refuses
  * loudly rather than writing a misaligned row. */
final case class GraftRowLevelWriterFactory(inner: GraftDataWriterFactory,
    schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val proj = org.apache.spark.sql.catalyst
        .ProjectingInternalRow(schema, (1 to schema.size).toList)
      override def write(
          row: org.apache.spark.sql.catalyst.InternalRow): Unit =
        if (row.numFields == schema.size) w.write(row)
        else if (row.numFields == schema.size + 1) {
          proj.project(row); w.write(proj)
        } else throw new IllegalStateException(
          s"graft row-level write: row with ${row.numFields} fields " +
            s"against a ${schema.size}-column schema — the ReplaceData " +
            "row shape changed; refusing to write misaligned rows")
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
