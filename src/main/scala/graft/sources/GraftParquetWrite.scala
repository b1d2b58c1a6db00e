package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

/** DataSource V2 WRITE path for the graft parquet connector — the sink
  * half of the S1 story ([[GraftParquetTableProvider]]): the same table
  * that reads with pushdown/zone-map/manifest pruning now OWNS its
  * `_graft_stats.parquet` manifest transactionally on write. Before
  * this, the manifest had a split brain: [[Sinks.parquetWithStats]]
  * wrote it once, and any later plain append left new files out of it
  * (conservatively read, never pruned — safe but silently unoptimized,
  * and nothing owned the manifest's lifecycle).
  *
  * Commit protocol (single-writer; readers degrade conservatively, never
  * wrongly):
  *   1. tasks write `part-<partition>-<task>-<writeId>.parquet` under
  *      `<table>/_staging-<writeId>/` — the underscore prefix keeps the
  *      whole staging tree invisible to [[GraftParquetV2.listFiles]], so
  *      a concurrent reader NEVER sees an uncommitted row; each task
  *      reads its own file's footer after close and ships the per-column
  *      zone-map entries to the driver in its commit message (the footer
  *      I/O is paid where the write ran, exactly like
  *      [[Sinks.parquetWithStats]]'s executor-side stats job);
  *   2. driver commit ([[GraftSwap]]) — for truncate-overwrite — first
  *      archives the pre-existing data files (a racing reader sees a
  *      shrinking then growing table, never the union of two
  *      generations), then renames staged files into the table
  *      directory (same-filesystem renames: O(1) metadata ops, no data
  *      copy), and
  *   3. rewrites the manifest LAST — prior entries (append keeps them,
  *      truncate drops them) plus the new files' entries go to a
  *      `_graft_stats.parquet.tmp-<writeId>` directory which is then
  *      swapped over the live sidecar (delete + rename).
  *
  * The delete+rename swap is not atomic on a plain filesystem; the
  * failure window leaves NO manifest, which the scan treats as "no zone
  * maps" — every file is read, nothing is wrongly pruned (the same
  * degrade-to-correct rule the row-group pruner applies to missing
  * footer stats). A crash before step 3 similarly leaves committed data
  * files whose manifest entries are missing: conservatively scanned
  * until the next write rebuilds the sidecar. Task abort deletes the
  * task's staged file; job abort deletes the staging tree; Spark's
  * commit coordinator (on by default for batch writes) guarantees one
  * committed attempt per partition under speculation.
  *
  * PARTITIONED layout (the `partitionBy` write option): rows route to
  * Hive-style `col=value/` directories (URL-encoded values, null as
  * `__HIVE_DEFAULT_PARTITION__`), staged under the SAME relative
  * layout so commit stays rename-only, and partition values are also
  * written into the data files (the Iceberg convention) so the read
  * side needs no schema surgery — the scan prunes whole directories
  * from the listing via the same refutation engine as the zone maps
  * (partition value = a degenerate min==max zone map). Scale note: a
  * task holds one open writer per distinct partition value it sees;
  * the caller keeps that bounded the standard way — repartition by the
  * partition columns first, giving one writer per task. Overwrite of a
  * partitioned table honors `partitionOverwriteMode=dynamic`: only the
  * partitions present in the incoming data are replaced (files AND
  * manifest rows); static (default) truncates the whole table.
  *
  * Scope mirrors the read side deliberately: flat primitive schemas
  * only (int/long/double/float/boolean/string/binary/date/timestamp),
  * declined LOUDLY at plan time for anything nested — the built-in
  * parquet writer remains the sink of choice for exotic schemas; this
  * path exists so the connector's table format is self-contained.
  * Reference context: the reference's only sink is text
  * (`/root/reference/pipelines/cycle_rides.py:60-70`); a manifested
  * columnar sink is part of graft's lakehouse extension surface. */
final case class GraftCommitMessage(files: Seq[String],
    stats: Seq[GraftManifestEntry]) extends WriterCommitMessage

/** One manifest row (file × column zone-map entry) in plain-JVM form —
  * serializable for commit messages, convertible to/from the sidecar's
  * [[GraftParquetV2.manifestSchema]] rows. `nullCount = None` means the
  * footer didn't expose null counts (bounds then also distrusted). */
final case class GraftManifestEntry(file: String, column: String,
    kind: String, minLong: Option[Long], maxLong: Option[Long],
    minStr: Option[String], maxStr: Option[String],
    nullCount: Option[Long], valueCount: Long)

class GraftWriteBuilder(path: String, info: LogicalWriteInfo,
    tablePartCols: Seq[String] = Nil)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    // schema validation at PLAN time — an unsupported column fails the
    // write before any task launches, not halfway through a fan-out
    GraftParquetWrite.messageType(info.schema())
    // partition columns via the `partitionBy` WRITE OPTION (comma-
    // separated, outermost first) — on the raw TableProvider path the
    // option IS the DDL (no catalog to carry table partitioning) — OR
    // from the catalog's persisted spec (CREATE TABLE … PARTITIONED
    // BY, carried in `tablePartCols`). An option that CONTRADICTS the
    // table spec refuses loudly: a silently-divergent layout was the
    // reason PARTITIONED BY used to be declined outright.
    // Validated here, loudly: unknown columns or types whose directory
    // rendering wouldn't round-trip (floats, binary, timestamps) fail
    // before any task launches. Values land in the directory NAME and
    // ALSO in the data files — the Iceberg convention — so the reader
    // needs no schema surgery and partition pruning is pure listing.
    val optCols = Option(info.options.get("partitionBy")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    // the spec lives with the TABLE (a root sidecar): read it here so
    // the raw path-based route honors — and cannot contradict — a
    // catalog-declared layout either
    val specCols =
      if (tablePartCols.nonEmpty) tablePartCols
      else GraftCatalog.readPartSpec(path, GraftParquetWrite.sessionConf())
    require(optCols.isEmpty || specCols.isEmpty || optCols == specCols,
      s"graft parquet v2 write: partitionBy option [${optCols.mkString(", ")}] " +
        s"contradicts the table's declared PARTITIONED BY " +
        s"[${specCols.mkString(", ")}] — the persisted spec is the DDL")
    val partCols = if (optCols.nonEmpty) optCols else specCols
    GraftParquetWrite.validatePartitionCols(info.schema(), partCols)
    require(partCols.size < info.schema().size || partCols.isEmpty,
      "graft parquet v2 write: partitioning on EVERY column leaves no " +
        "data columns")
    // partitionOverwriteMode=dynamic (the v1 FileFormatWriter option,
    // honored here for the connector): overwrite replaces ONLY the
    // partitions the incoming data touches; untouched partitions — and
    // their manifest rows — survive. Static (default) truncates all.
    val dynamic = "dynamic".equalsIgnoreCase(
      Option(info.options.get("partitionOverwriteMode")).getOrElse("static"))
    require(!dynamic || partCols.nonEmpty,
      "graft parquet v2 write: partitionOverwriteMode=dynamic needs " +
        "partition columns (partitionBy)")
    // a persisted bloom spec ([[GraftBloom.SpecFile]]) makes every
    // write maintain point-lookup sidecars for its own new files;
    // guarded — a torn/absent spec only costs coverage, never a write
    val bloomSpec = try GraftBloom.readSpec(path) catch {
      case _: Exception => None
    }
    // CHECK constraints bind to the write schema HERE — a write that
    // cannot enforce one (missing column, unparseable) refuses before
    // any task launches, never silently skips ([[GraftConstraints]])
    val constraints = GraftConstraints.boundFor(
      org.apache.spark.sql.SparkSession.active, path, info.schema())
    // the `branch` WRITE OPTION routes this append onto a named branch
    // ([[GraftTableLog]] branches): files land under the invisible
    // `_branch_<name>/` dir, the commit claims a global version whose
    // snapshot extends the BRANCH head, and main stays untouched.
    // Append-only and flat (no partition dirs) — overwrite semantics
    // and layout evolution belong to main, not an experiment lineage.
    // SQL routes (INSERT INTO through the catalog) cannot pass write
    // options, so the SESSION CONF `spark.graft.branch` is the WAP
    // knob (the Iceberg `spark.wap.branch` convention): set it and
    // every graft write in the session lands on that branch until
    // unset. The explicit option wins over the conf.
    val branch = Option(info.options.get("branch")).map(_.trim)
      .filter(_.nonEmpty)
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(_.conf.getOption("spark.graft.branch"))
        .map(_.trim).filter(_.nonEmpty))
    branch.foreach { b =>
      require(!doTruncate,
        "graft parquet v2 write: branch writes are append-only — " +
          "overwrite a branch by drop_branch + re-create")
      require(partCols.isEmpty,
        "graft parquet v2 write: branch writes do not take partition " +
          "columns — partition layout is a main-lineage property")
      require(GraftTableLog.readBranch(path, b).isDefined,
        s"graft parquet v2 write: branch '$b' does not exist on $path " +
          "— CALL system.create_branch first")
    }
    // `conflictReadVersion` (internal, set by [[GraftMaintenance
    // .compact]]): the head version the overwriting job READ — the
    // commit validates it under the rewrite lock and refuses
    // (retryable) if a concurrent commit moved the table, instead of
    // truncating the concurrent write away. Absent for user
    // overwrites, whose semantics are "replace whatever is there".
    val conflictRead = Option(info.options.get("conflictReadVersion"))
      .map(v => GraftConflicts.RewriteReadState(v.toLong,
        GraftDeletes.liveDvRels(path).toSet))
    // `txnId`: idempotent-append marker (the Delta txnAppId:txnVersion
    // discipline, one string) — a batch append carrying a txnId the
    // table has already committed becomes a NO-OP instead of a
    // duplicate. This is how foreachBatch writers get exactly-once:
    // option("txnId", s"$app-$batchId") — a replayed batch (failure
    // recovery re-runs the last uncommitted one) re-arrives with the
    // same id and is dropped at commit. Plain appends only: overwrite
    // semantics are "replace what is there" (replay-safe already) and
    // branch lineages have their own sequenced CAS.
    val txnId = Option(info.options.get("txnId")).map(_.trim)
      .filter(_.nonEmpty)
    txnId.foreach { t =>
      require(t.matches("[A-Za-z0-9._-]{1,200}"),
        s"graft parquet v2 write: txnId '$t' must match " +
          "[A-Za-z0-9._-]{1,200} (it names a marker file)")
      require(!doTruncate && branch.isEmpty,
        "graft parquet v2 write: txnId is an APPEND idempotence " +
          "marker — overwrite and branch writes do not take it")
    }
    new GraftBatchWrite(path, info.schema(), doTruncate, partCols,
      dynamic, info.queryId(), bloomSpec, constraints, branch,
      conflictRead, txnId)
  }
}

class GraftBatchWrite(path: String, schema: StructType, truncate: Boolean,
    partCols: Seq[String] = Nil, dynamicOverwrite: Boolean = false,
    queryId: String = "",
    bloomSpec: Option[(Seq[String], Double)] = None,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    branch: Option[String] = None,
    conflictRead: Option[GraftConflicts.RewriteReadState] = None,
    txnId: Option[String] = None)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val writeId = UUID.randomUUID().toString
  // BatchWrite and StreamingWrite both declare this default — Scala
  // wants the diamond resolved explicitly; true is both sides' default
  override def useCommitCoordinator(): Boolean = true
  override def toBatch: BatchWrite = this
  override def description(): String =
    s"GraftParquetWrite path=$path, truncate=$truncate" +
      (if (partCols.nonEmpty)
        s", partitionBy=[${partCols.mkString(", ")}]" else "")

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    GraftDataWriterFactory(path, schema, writeId, partCols, bloomSpec,
      constraints, GraftSerConf.session())

  // ——— streaming sink: one transactional append per epoch ———

  /** `writeStream.format(graft)…` lands here: each micro-batch (epoch)
    * is a self-contained append — its own `_staging-<id>-<epoch>`
    * tree, the same rename-in commit, the same manifest append — plus
    * an EPOCH MARKER (`_graft_epochs/<queryId>-<epoch>`) written after
    * the manifest swap, so a replayed epoch (failure recovery re-runs
    * the last uncommitted batch; Spark requires sinks to tolerate
    * re-commits) is detected and its staged files are DROPPED instead
    * of re-appended. The marker lands last: a crash between rename and
    * marker re-appends that epoch on recovery — at-least-once across
    * crashes, exactly-once within a run, never a torn manifest.
    * Append output mode only: truncate-per-epoch (complete mode) is
    * declined loudly at plan time. */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate && !dynamicOverwrite,
      "graft parquet v2 streaming sink is append-only — complete/" +
        "truncate output modes are not supported")
    require(branch.isEmpty,
      "graft parquet v2 streaming sink does not take the branch " +
        "option — stream to main, or foreachBatch a branch append")
    this
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    GraftStreamingWriterFactory(path, schema, writeId, partCols,
      bloomSpec, constraints, GraftSerConf.session())

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(GraftParquetWrite.sessionConf())
    val staging = new Path(path, s"_staging-$writeId-$epochId")
    val marker = new Path(
      new Path(path, GraftParquetWrite.EpochDir), s"$queryId-$epochId")
    if (fs.exists(marker)) { fs.delete(staging, true); return }
    val (rels, entries) = staged(messages)
    if (rels.nonEmpty)
      GraftSwap.commit(path, s"$writeId-$epochId", staging, rels, entries)
    else fs.delete(staging, true)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** The staged data files and their manifest rows, over every task. */
  private def staged(messages: Array[WriterCommitMessage])
      : (Seq[String], Seq[GraftManifestEntry]) = {
    val msgs = messages.collect { case m: GraftCommitMessage => m }
    (msgs.flatMap(_.files).toSeq, msgs.flatMap(_.stats).toSeq)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(GraftParquetWrite.sessionConf())
    fs.delete(new Path(path, s"_staging-$writeId-$epochId"), true)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(GraftParquetWrite.sessionConf())
    val staging = new Path(path, s"_staging-$writeId")
    // idempotent-append guard: this txnId already committed → replay,
    // drop the staged files instead of duplicating the append. Marker
    // discipline mirrors the streaming epoch markers (created AFTER
    // the manifest commit): a crash between commit and marker re-runs
    // the append — at-least-once across crashes, exactly-once within
    // a run and across foreachBatch replays.
    val txnMarker = txnId.map(t =>
      new Path(new Path(path, GraftParquetWrite.EpochDir), s"txn-$t"))
    txnMarker.foreach { m =>
      if (fs.exists(m)) { fs.delete(staging, true); return }
    }
    val (rels, entries) = staged(messages)
    // BRANCH COMMIT (append-only): files land in the invisible
    // `_branch_<b>/` lineage dir (main listings never see them), the
    // snapshot extends the BRANCH head's file set under a global
    // version number, and the ref re-points. The live stats sidecar is
    // NOT touched: it prunes MAIN scans, and branch files must stay out
    // of it — branch reads prune via their snapshot's own entries. An
    // empty branch append commits nothing.
    if (branch.isDefined && rels.isEmpty) fs.delete(staging, true)
    else if (!truncate)
      GraftSwap.commit(path, writeId, staging, rels, entries, branch = branch)
    else GraftConflicts.withRewriteLock(path) {
      // TRUNCATE archives the old generation through the swap's
      // shrink-then-grow, under the table's rewrite lock
      // ([[GraftConflicts]]) so its window never interleaves with a
      // row-level rewrite's. A SELF-READING overwrite (compact —
      // `conflictRead` set) validates its read serializably: if a
      // concurrent commit moved the head, truncating would silently
      // discard that commit, so it refuses with a retryable conflict
      // instead. A plain user overwrite carries no read state —
      // replacing whatever is there IS its semantics.
      conflictRead.foreach(r =>
        GraftConflicts.validateRewrite(path, r, Nil, serializable = true))
      GraftSwap.commit(path, writeId, staging, rels, entries,
        archive = overwritten(rels), carryPrior = dynamicOverwrite)
    }
    txnMarker.foreach { m =>
      fs.mkdirs(m.getParent)
      fs.create(m, true).close()
    }
  }

  /** The live files a truncating commit of `rels` replaces: all of
    * them, or under `partitionOverwriteMode=dynamic` only those in the
    * partition directories the new data touches (every other partition
    * and any flat legacy file survives, manifest rows included). */
  private def overwritten(rels: Seq[String]): Seq[String] = {
    // Only a MISSING table dir means "fresh table, nothing to replace".
    // Any other listing failure (transient IO, permissions) must fail
    // the commit: swallowing it would rename the staged generation in
    // NEXT TO the unarchived old one — readers would see the union of
    // both generations (duplicated rows). Failing here leaves the table
    // on the old generation and job abort cleans the staging dir.
    val preExisting = try GraftParquetV2.listFiles(path) catch {
      case _: java.io.FileNotFoundException => Nil // fresh table
    }
    if (!dynamicOverwrite) return preExisting
    val touchedDirs: Set[String] = rels.map { rel =>
      val cut = rel.lastIndexOf('/')
      if (cut < 0) "" else rel.substring(0, cut)
    }.toSet
    preExisting.filter { f =>
      GraftParquetV2.partitionSpec(path, f) match {
        case Nil => false // flat legacy file: dynamic spares it
        case spec => touchedDirs.contains(
          // compare the RAW directory string, not decoded values —
          // the writer's encoding is canonical either way
          new Path(f).getParent.toUri.getPath
            .stripPrefix(new Path(path).toUri.getPath)
            .stripPrefix("/")) && spec.nonEmpty
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(GraftParquetWrite.sessionConf())
    fs.delete(new Path(path, s"_staging-$writeId"), true)
  }
}

case class GraftDataWriterFactory(path: String, schema: StructType,
    writeId: String, partCols: Seq[String] = Nil,
    bloomSpec: Option[(Seq[String], Double)] = None,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    // the driver session's Hadoop conf, shipped so TASK-side file and
    // sidecar I/O keeps spark.hadoop.* (object-store credentials)
    serConf: GraftSerConf = GraftSerConf.session())
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(path, schema, writeId, partitionId, taskId,
      partCols, bloomSpec, constraints, serConf)
}

/** Streaming twin of [[GraftDataWriterFactory]]: the epoch id joins
  * the write id, so each micro-batch stages (and commits) its own
  * file generation. */
case class GraftStreamingWriterFactory(path: String, schema: StructType,
    writeId: String, partCols: Seq[String] = Nil,
    bloomSpec: Option[(Seq[String], Double)] = None,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    serConf: GraftSerConf = GraftSerConf.session())
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(path, schema, s"$writeId-$epochId", partitionId,
      taskId, partCols, bloomSpec, constraints, serConf)
}

/** Task-side parquet writer over the Group API (the symmetric twin of
  * [[GraftPartitionReader]]'s Group decode). Files are created LAZILY
  * on the first row (per partition value when partitioned), so an
  * empty input partition commits no file at all instead of littering
  * the table with zero-row parquet. With partition columns, rows route
  * to one child writer per distinct value tuple, staged under the
  * mirrored `col=value/...` layout; partition values are URL-encoded
  * in the directory name (exact round-trip for any string) and null
  * renders as Hive's `__HIVE_DEFAULT_PARTITION__`. Basenames carry a
  * per-task ordinal so every file in the table stays uniquely named —
  * the manifest keys on basenames. */
class GraftDataWriter(path: String, schema: StructType, writeId: String,
    partitionId: Int, taskId: Long, partCols: Seq[String] = Nil,
    bloomSpec: Option[(Seq[String], Double)] = None,
    constraints: Seq[(String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    serConf: GraftSerConf = GraftSerConf.session())
    extends DataWriter[InternalRow] {
  // every task-side filesystem touch (data files, footer read-back,
  // bloom sidecars, abort cleanup) goes through the SHIPPED driver
  // conf, never a bare Configuration
  private lazy val taskConf: Configuration = serConf.value
  // CHECK enforcement: one codegen\'d predicate per constraint,
  // compiled once per task from the plan-time-bound expression
  // (null already passes — the binder wrapped `IS NULL OR expr`)
  private lazy val checks: Array[(String,
      org.apache.spark.sql.catalyst.expressions.BasePredicate)] =
    constraints.map { case (n, e) =>
      val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
      p.initialize(partitionId)
      (n, p)
    }.toArray
  private val staging = new Path(path, s"_staging-$writeId")
  private val messageType = GraftParquetWrite.messageType(schema)
  private val factory = new SimpleGroupFactory(messageType)
  private val partIdx: Seq[(Int, String)] = partCols.map { c =>
    (schema.fieldIndex(c), c) // validated at plan time
  }
  // relative dir ("" for flat) → open writer + its relative file path
  private val writers = collection.mutable.LinkedHashMap
    .empty[String, (ParquetWriter[Group], String)]
  private var closed = false

  private def renderValue(row: InternalRow, at: Int): String =
    if (row.isNullAt(at)) GraftParquetV2.HiveDefaultPartition
    else java.net.URLEncoder.encode(schema.fields(at).dataType match {
      case IntegerType => row.getInt(at).toString
      case LongType => row.getLong(at).toString
      case BooleanType => row.getBoolean(at).toString
      case StringType => row.getUTF8String(at).toString
      case other => throw new IllegalStateException(
        s"unreachable partition type $other") // build() already threw
    }, "UTF-8")

  private def writerFor(row: InternalRow): ParquetWriter[Group] = {
    val relDir = partIdx.map { case (at, c) =>
      s"$c=${renderValue(row, at)}"
    }.mkString("/")
    writers.getOrElseUpdate(relDir, {
      val fileName = f"part-$partitionId%05d-$taskId-$writeId-" +
        f"${writers.size}%04d.parquet"
      val rel = if (relDir.isEmpty) fileName else s"$relDir/$fileName"
      val w = GraftParquetIO.writer(
        new Path(staging, rel), messageType, taskConf)
      (w, rel)
    })._1
  }

  override def write(row: InternalRow): Unit = {
    var ci = 0
    while (ci < checks.length) {
      if (!checks(ci)._2.eval(row))
        throw new IllegalArgumentException(
          s"graft constraint \'${checks(ci)._1}\' violated by row " +
            row.toSeq(schema).mkString("[", ", ", "]") +
            s" — write refused (DROP the constraint or fix the data)")
      ci += 1
    }
    writerFor(row).write(GraftParquetWrite.toGroup(factory, schema, row))
  }

  // sidecars this task wrote at their FINAL `_graft_bloom/` location
  // (an aborted task deletes them; an abandoned one is an orphan the
  // next build reaps — never a wrong skip)
  private val bloomWritten = collection.mutable.Buffer.empty[Path]

  override def commit(): WriterCommitMessage =
    if (writers.isEmpty) GraftCommitMessage(Nil, Nil)
    else {
      writers.values.foreach(_._1.close()); closed = true
      // footer read-back of the just-written files: the ONLY place the
      // new files' column chunk stats exist; same executor, page-cache
      // warm — the manifest I/O rides the write, as in parquetWithStats
      val rels = writers.values.map(_._2).toSeq
      // write-time bloom maintenance: one warm re-read of the spec
      // columns per staged file, exact-size sidecars (GraftBloom spec)
      bloomSpec.foreach { case (cols, fpp) =>
        rels.foreach(rel => bloomWritten ++= GraftBloom.buildForStaged(
          taskConf, new Path(staging, rel), path, cols, fpp))
      }
      GraftCommitMessage(rels, rels.flatMap(rel =>
        GraftParquetWrite.fileStatsEntries(
          new Path(staging, rel).toString, taskConf)))
    }

  override def abort(): Unit = {
    if (!closed) { writers.values.foreach(_._1.close()); closed = true }
    val fs = staging.getFileSystem(taskConf)
    writers.values.foreach(v => fs.delete(new Path(staging, v._2), false))
    bloomWritten.foreach(p => fs.delete(p, false))
  }

  override def close(): Unit =
    if (!closed) { writers.values.foreach(_._1.close()); closed = true }
}

object GraftParquetWrite {

  /** Underscore-invisible directory of per-(query, epoch) commit
    * markers — the streaming sink's replay ledger. */
  val EpochDir = "_graft_epochs"

  /** DRIVER-side Hadoop configuration: the active session's (so
    * `spark.hadoop.*` settings — S3 credentials, custom filesystems —
    * reach the table-format sidecar reads), falling back to a bare
    * `Configuration` when no session is live (spec helpers, tools).
    * CACHED per session: `newHadoopConf()` copies ~a thousand entries,
    * and the table format calls this dozens of times per query
    * planning — uncached it was a measurable fixed cost on sub-second
    * queries. The cached conf is shared and treated READ-ONLY by every
    * caller (readers, filesystem lookups, GraftSerConf capture);
    * `spark.hadoop.*` values set at runtime AFTER a session's first
    * table-format use need a new session to take effect — the same
    * builder-time contract Hadoop confs have across Spark's own file
    * sources. Executor-side code receives the shipped [[GraftSerConf]]
    * instead — the task context carries no active session.
    *
    * Writer-construction safety: a parquet write support may store its
    * state into the conf its writer is built on
    * (`GroupWriteSupport.setSchema(conf)`). [[GraftParquetIO.writer]]
    * builds every writer on a private COPY of this conf, so
    * metadata-writer construction never writes through to this shared
    * instance; readers ([[GraftParquetIO.open]]) only read it. Pinned
    * by [[graft.SessionConfIsolationSpec]]. */
  private val sessionConfCache = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession, Configuration]()

  def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      case Some(s) => sessionConf(s)
      case None => new Configuration()
    }

  /** The cached driver-side Hadoop conf of `spark` itself, for callers
    * that hold their session (no active-session lookup). */
  def sessionConf(spark: org.apache.spark.sql.SparkSession): Configuration =
    sessionConfCache.synchronized {
      var c = sessionConfCache.get(spark)
      if (c == null) {
        c = spark.sessionState.newHadoopConf()
        sessionConfCache.put(spark, c)
      }
      c
    }

  /** Loud plan-time validation of a partition-column list against the
    * write schema: the column must exist, and its type must have an
    * exact directory-name round-trip (floats, binary, timestamps do
    * not). Shared by the write builder and the catalog's CREATE TABLE
    * … PARTITIONED BY, so DDL and write agree on what is legal. */
  def validatePartitionCols(schema: StructType,
      partCols: Seq[String]): Unit = {
    val partitionable: Set[DataType] =
      Set(IntegerType, LongType, StringType, BooleanType)
    partCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft parquet v2 write: partition column '$c' not in schema"))
      require(partitionable(f.dataType),
        s"graft parquet v2 write: partition column '$c' has type " +
          s"${f.dataType} — only int/long/string/boolean values have an " +
          "exact directory-name round-trip")
    }
    require(partCols.distinct.size == partCols.size,
      s"graft parquet v2 write: duplicate partition column in " +
        s"[${partCols.mkString(", ")}]")
  }

  /** StructType → parquet MessageType — the exact inverse of the read
    * side's [[GraftParquetV2.sparkSchema]]/toCatalyst, so a connector
    * write round-trips through the connector read bit-for-bit. */
  def messageType(schema: StructType): MessageType = {
    val fields = schema.fields.toSeq.map { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      def prim(t: PrimitiveTypeName,
          ann: LogicalTypeAnnotation = null): org.apache.parquet.schema.Type = {
        val b = Types.primitive(t, rep)
        (if (ann != null) b.as(ann) else b).named(f.name)
      }
      f.dataType match {
        case IntegerType => prim(PrimitiveTypeName.INT32)
        case DateType =>
          prim(PrimitiveTypeName.INT32, LogicalTypeAnnotation.dateType())
        case LongType => prim(PrimitiveTypeName.INT64)
        case TimestampType => prim(PrimitiveTypeName.INT64,
          LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case DoubleType => prim(PrimitiveTypeName.DOUBLE)
        case FloatType => prim(PrimitiveTypeName.FLOAT)
        case BooleanType => prim(PrimitiveTypeName.BOOLEAN)
        case StringType => prim(PrimitiveTypeName.BINARY,
          LogicalTypeAnnotation.stringType())
        case BinaryType => prim(PrimitiveTypeName.BINARY)
        // decimals: INT64-backed while the unscaled value fits a long
        // (parquet's compact encoding), BINARY big-endian-unscaled
        // above — the standard DECIMAL logical type either way, so
        // external readers (DuckDB, spark.read.parquet) see real
        // decimals, not raw integers
        case d: DecimalType if d.precision <= 18 =>
          prim(PrimitiveTypeName.INT64,
            LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case d: DecimalType =>
          prim(PrimitiveTypeName.BINARY,
            LogicalTypeAnnotation.decimalType(d.scale, d.precision))
        case other => throw new IllegalArgumentException(
          s"graft parquet v2 write: unsupported column type $other for " +
            s"'${f.name}' — use Sinks.parquet for nested/exotic schemas")
      }
    }
    new MessageType("graft_schema", fields.asJava)
  }

  /** InternalRow → example Group under `schema` (positions align by
    * construction: [[messageType]] preserves field order). Nulls are
    * simply not appended — parquet OPTIONAL absence. */
  def toGroup(factory: SimpleGroupFactory, schema: StructType,
      row: InternalRow): Group = {
    val g = factory.newGroup()
    var i = 0
    val n = schema.length
    while (i < n) {
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case IntegerType | DateType => g.add(i, row.getInt(i))
        case LongType | TimestampType => g.add(i, row.getLong(i))
        case DoubleType => g.add(i, row.getDouble(i))
        case FloatType => g.add(i, row.getFloat(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case StringType => g.add(i,
          Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
        case BinaryType => g.add(i,
          Binary.fromConstantByteArray(row.getBinary(i)))
        case d: DecimalType =>
          val dec = row.getDecimal(i, d.precision, d.scale)
          if (d.precision <= 18) g.add(i, dec.toUnscaledLong)
          else g.add(i, Binary.fromConstantByteArray(
            dec.toJavaBigDecimal.unscaledValue().toByteArray))
        case other => throw new IllegalStateException(
          s"unreachable write type $other") // messageType() already threw
      }
      i += 1
    }
    g
  }

  /** Per-file manifest entries from the file's own footer — bounds only
    * for kinds whose order the refutation engine trusts (integrals as
    * long, booleans as 0/1, STRING-annotated binary byte-exact;
    * float/double/raw-binary get null-count-only "other" rows), exactly
    * the [[Sinks.parquetWithStats]] rules. Runs inside an executor task
    * (the connector write) or a Spark job ([[Sinks.parquetWithStats]]).

    * The `file` key is the BASENAME: staged files keep their name when
    * renamed into the table directory, so entries computed in staging
    * stay valid after commit. */
  def fileStatsEntries(file: String,
      hadoopConf: Configuration = sessionConf())
      : Seq[GraftManifestEntry] = {
    import org.apache.spark.unsafe.types.UTF8String
    val in = GraftParquetIO.open(new Path(file), hadoopConf)
    try {
      val blocks = in.getFooter.getBlocks.asScala.toSeq
      val fileSchema = in.getFooter.getFileMetaData.getSchema
      val base = new Path(file).getName
      def stringAnnotated(cn: String): Boolean =
        fileSchema.containsField(cn) &&
          fileSchema.getType(fileSchema.getFieldIndex(cn))
            .getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      // an INT64-backed DECIMAL's footer extremes come back as plain
      // Longs in UNSCALED space — classifying them "long" would hand
      // the refutation engine bounds in the wrong value space, so
      // decimals stay null-count-only like floats
      def decimalAnnotated(cn: String): Boolean =
        fileSchema.containsField(cn) &&
          fileSchema.getType(fileSchema.getFieldIndex(cn))
            .getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
      val colNames = blocks.headOption.toSeq
        .flatMap(_.getColumns.asScala.map(_.getPath.toDotString)).distinct
      colNames.map { cn =>
        val chunks = blocks.flatMap(
          _.getColumns.asScala.find(_.getPath.toDotString == cn))
        val stats = chunks.map(_.getStatistics)
        val valueCount = chunks.map(_.getValueCount).sum
        val nullsKnown = stats.forall(s => s != null && s.isNumNullsSet)
        val nullCount = if (nullsKnown) Some(stats.map(_.getNumNulls).sum)
          else None
        // bounds only when EVERY chunk has exact non-null stats or is
        // provably all-null — the row-group rule, lifted to the file
        val withVals = stats.filter(s => s != null && s.hasNonNullValue)
        val boundsOk = chunks.forall { c =>
          val s = c.getStatistics
          s != null && (s.hasNonNullValue ||
            (s.isNumNullsSet && s.getNumNulls == c.getValueCount))
        }
        val extremes: Seq[Any] =
          withVals.flatMap(s => Seq(s.genericGetMin, s.genericGetMax))
        val (kind, minL, maxL, minS, maxS): (String, Option[Long],
            Option[Long], Option[String], Option[String]) =
          if (!boundsOk || withVals.isEmpty) ("other", None, None, None, None)
          else extremes.head match {
            case _: java.lang.Integer | _: java.lang.Long
                if !decimalAnnotated(cn) =>
              val ls = extremes.map(_.asInstanceOf[Number].longValue())
              ("long", Some(ls.min), Some(ls.max), None, None)
            case _: java.lang.Boolean =>
              val bs = extremes.map(_.asInstanceOf[java.lang.Boolean]
                .booleanValue())
              ("bool", Some(if (bs.forall(identity)) 1L else 0L),
                Some(if (bs.exists(identity)) 1L else 0L), None, None)
            case _: Binary if stringAnnotated(cn) =>
              val us = extremes.map(b =>
                UTF8String.fromBytes(b.asInstanceOf[Binary].getBytes))
              val ord = Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0)
              ("string", None, None,
                Some(us.min(ord).toString), Some(us.max(ord).toString))
            case _ => ("other", None, None, None, None) // raw binary, floats
          }
        GraftManifestEntry(base, cn, kind, minL, maxL, minS, maxS,
          nullCount, valueCount)
      }
    } finally in.close()
  }

  /** Commit the metadata half of a write: a new LOG SNAPSHOT (the
    * version-numbered full file listing + stats — [[GraftTableLog]]),
    * then the live-manifest swap. Snapshot BEFORE manifest: a crash
    * between the two leaves the committed version fully readable via
    * `versionAsOf` while live reads degrade to the conservative
    * no-manifest scan of the same files — stale metadata, never wrong
    * data (the mirror of the manifest swap's own failure rule). The
    * snapshot's file list comes from the live LISTING, not from prior
    * snapshots, so files added outside the connector (a plain parquet
    * drop-in, a parquetWithStats seed) enter the history at the next
    * commit instead of vanishing from it. */
  def commitMetadata(path: String, entries: Seq[GraftManifestEntry],
      writeId: String,
      // the files this commit took out of the live set. Only a removal
      // can STRAND a deletion-vector sidecar (staleness is monotone and
      // appends only ADD live basenames), so only then are the
      // sidecars re-read — per append epoch that would be all cost
      removed: Seq[String] = Nil): Unit = {
    // OPTIMISTIC version claim (concurrent APPENDS commit safely):
    // the snapshot's exclusive create is the claim; a loser re-lists —
    // now seeing the winner's renamed files, which enter its snapshot
    // as `present` rows (conservatively scanned until the manifest
    // heals at the next commit) — and retries at the next number.
    // Overwrites remain single-writer by contract: two concurrent
    // truncates archive independently and the survivors' union is NOT
    // a generation either intended (same as before this loop).
    GraftFsContract.requireAtomicCommitFs(path)
    manifestLocks.computeIfAbsent(path, _ => new Object).synchronized {
      var attempt = 0
      var committed = false
      var stale = Seq.empty[String]
      while (!committed) {
        // heal an aged-torn HEAD (a crashed writer's last claim):
        // otherwise the torn number stays in the version listing —
        // readable by nobody. A FRESH torn head (a live cross-JVM
        // writer mid-write, or a crash inside the heal horizon) is
        // left alone and simply claimed PAST — commits never block on
        // it; the number heals once aged.
        // list-then-recheck: the listing must not be STALER than the
        // version number we claim, or a cross-JVM writer that renamed
        // its files and claimed a version while we listed would leave
        // our later-numbered snapshot MISSING its files (a version
        // whose history went backwards). If the head moved while we
        // listed, re-list.
        val v0 = headAfterHeal(path)
        // a table whose head is EMPTY (truncate, or a zero-row first
        // write) may have no data directory entries at all — an empty
        // snapshot is a legitimate version
        val rels = (try GraftParquetV2.listFiles(path) catch {
          case _: java.io.FileNotFoundException => Nil
        }).map(GraftTableLog.relativize(path, _))
        // deletion-vector housekeeping rides a removing commit: DV
        // files whose every referenced data file has left the live set
        // (a rewrite read through them, so their deletes are
        // materialized) drop out of the snapshot's pinned DV set — the
        // version's merge-on-read deletes — and archive only once the
        // version is claimed: until then a failed swap may move their
        // data files back
        stale = if (removed.isEmpty) Nil else GraftDeletes.fullyStale(path,
          rels.map(r => new Path(r).getName).toSet)
        val dvRels = GraftDeletes.liveDvRels(path).filterNot(stale.contains)
        if (GraftTableLog.latestVersion(path).getOrElse(0L) == v0) {
          try {
            GraftTableLog.writeSnapshot(path, v0 + 1L, writeId, rels,
              entries, dvRels)
            committed = true
          } catch {
            case e: java.io.IOException => // claim lost — re-list, retry
              attempt += 1
              if (attempt > 50) throw new IllegalStateException(
                s"graft parquet v2 write: lost the version-claim race 50 " +
                  s"times under $path — giving up", e)
          }
        }
        // files renamed in by a writer that claims AFTER us are absent
        // from our snapshot by design: they belong to ITS version, and
        // its snapshot (built from a listing at least as fresh as its
        // number) carries them — the change feed shows them as that
        // version's delta.
      }
      // the version is committed, so nothing below may fail it (a swap
      // would undo a committed write): a stale DV left live is inert —
      // it names no live file — and the next removing commit archives
      // it; the live sidecar is advisory pruning metadata, and without
      // it scans stay conservative
      try GraftDeletes.archiveDvs(path, stale) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[graft] stale DV archive failed under " +
            s"$path after committing its version ($e)")
      }
    }
    try replaceManifest(path, entries, writeId) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] manifest write failed under $path " +
          s"after committing its version ($e) - new files stay " +
          "unmanifested (conservatively scanned) until the next commit")
    }
  }

  /** The log head a commit claims past, after healing an aged-torn
    * head. One version listing serves both; the log is re-listed only
    * when the heal removed (or lost to a vanish) the listed head. A
    * head that moves after this listing is caught by the caller's
    * recheck or by the exclusive claim itself. */
  private def headAfterHeal(path: String): Long = {
    val listed = GraftTableLog.latestVersion(path)
    (if (listed.exists(GraftTableLog.healTornSnapshot(path, _)))
      GraftTableLog.latestVersion(path)
    else listed).getOrElse(0L)
  }

  /** Commit a BRANCH append: claim the next GLOBAL version with a
    * snapshot = the branch head's file set + `newRels`, then re-point
    * the branch ref. The main lineage is untouched — main commits list
    * live files only, and `_branch_*` dirs are invisible to listings,
    * so concurrent main appends and branch appends interleave safely
    * under the shared claim loop. */
  def commitBranchMetadata(path: String, branch: String,
      newRels: Seq[String], newEntries: Seq[GraftManifestEntry],
      writeId: String): Unit =
    manifestLocks.computeIfAbsent(path, _ => new Object).synchronized {
      GraftFsContract.requireAtomicCommitFs(path)
      var attempt = 0
      var committed = false
      while (!committed) {
        // read the CURRENT head and build on it — on a lost CAS below
        // this loop re-reads, so a concurrent branch writer's files are
        // carried forward instead of silently dropped from the lineage
        val (head, _) = GraftTableLog.readBranch(path, branch).getOrElse(
          throw new IllegalArgumentException(
            s"graft parquet v2 write: branch '$branch' vanished under " +
              s"$path mid-commit"))
        val (headRels, headDvRels, _) =
          GraftTableLog.readSnapshotFull(path, head)
        val headEntries = GraftTableLog.readSnapshotEntries(path, head)
        // claim a global version for head's file set + ours
        var v = -1L
        while (v < 0) {
          val v0 = headAfterHeal(path)
          try {
            GraftTableLog.writeSnapshot(path, v0 + 1L, writeId,
              headRels ++ newRels, headEntries ++ newEntries, headDvRels)
            v = v0 + 1L
          } catch {
            case e: java.io.IOException => // claim lost — retry next number
              attempt += 1
              if (attempt > 50) throw new IllegalStateException(
                s"graft parquet v2 branch write: lost the version-claim " +
                  s"race 50 times under $path — giving up", e)
          }
        }
        // CAS the ref: succeeds only if the head we built on is still
        // the head. A lost CAS orphans snapshot v (a readable version
        // no ref ever pointed at — vacuum reclaims it with the other
        // unreferenced generations) and the loop rebuilds on the moved
        // head; data files are new-named so nothing is double-counted.
        committed = GraftTableLog.casBranchHead(path, branch, head, v)
        if (!committed) {
          attempt += 1
          if (attempt > 50) throw new IllegalStateException(
            s"graft parquet v2 branch write: lost the branch-head CAS " +
              s"50 times on '$branch' under $path — giving up " +
              "(environmental create failures now rethrow from " +
              "casBranchHead directly, so 50 losses means real " +
              "sustained contention)")
          // brief backoff: a TORN successor (a crashed claimer's empty
          // seq file) heals on the ref horizon (~5 s) — spinning 50
          // dry CAS attempts must not exhaust before it can
          Thread.sleep(100L)
        }
      }
    }

  /** The live sidecar's rows, undecoded — what an APPEND must carry
    * forward. Missing sidecar → Nil (the append then bootstraps a
    * manifest covering only its own files; pre-existing unmanifested
    * files stay conservatively scanned — see planInputPartitions'
    * unknown-file rule). */
  def rawManifestEntries(path: String): Seq[GraftManifestEntry] = {
    // READ-RACE TOLERANCE (round-13 CommitRaceSpec catch): a concurrent
    // writer swaps the live sidecar between our listing and our open —
    // the reader can hit a vanished part, or a stat/open pair that
    // straddles the swap and reads garbage where a parquet footer
    // should be. The sidecar is ADVISORY: a commit must never fail on
    // it. Retry the whole read (a fresh listing sees a settled swap);
    // still racing after that, degrade to "no manifest" — the append
    // bootstraps a manifest covering its own files and everything else
    // is conservatively scanned (the documented unknown-file rule).
    // Only RACE-SHAPED failures take this path (vanished file,
    // truncated stream, torn footer): persistent corruption or a code
    // bug (schema drift, decode error) must THROW, not silently turn
    // pruning off forever behind a stderr line.
    var attempt = 0
    while (true) {
      try return rawManifestEntriesOnce(path)
      catch {
        case e: Exception if raceShapedManifestFailure(e) && attempt < 3 =>
          attempt += 1
          System.err.println(s"[graft] manifest read raced a concurrent " +
            s"swap under $path (attempt $attempt): ${e.getMessage}")
          Thread.sleep(50L * attempt)
        case e: Exception if raceShapedManifestFailure(e) =>
          System.err.println(s"[graft] manifest read still racing under " +
            s"$path - degrading to no-manifest (conservative scans) " +
            s"for this commit: ${e.getMessage}")
          return Nil
      }
    }
    Nil // unreachable
  }

  /** True iff `e` looks like a concurrent-swap race on the advisory
    * stats sidecar — a vanished part file, a truncated stream, a torn
    * parquet footer, or a torn PAGE mid-stream — the only failures the
    * manifest readers may retry-then-degrade on. Anything else (decode
    * bug, schema drift, persistent corruption) is a real defect and
    * must propagate.
    *
    * The torn-page shape (round 15 — the CommitRaceSpec flake's actual
    * stack, captured by the child-log harness): a reader streaming
    * sidecar pages while a cross-JVM writer swaps the sidecar under it
    * dies inside parquet's thrift decode with
    * "can not read class org.apache.parquet.format.PageHeader: …"
    * (truncated/garbage page bytes — e.g. "Required field
    * 'definition_level_encoding' was not present", "Socket is closed
    * by peer"). It is the mid-file sibling of the torn-footer shape
    * already matched, and the retry's FRESH listing reads the settled
    * winner. At-rest page corruption would exhaust the 3 retries and
    * degrade loudly to conservative scans — for ADVISORY pruning
    * metadata that trade is correct; data files never take this path. */
  def raceShapedManifestFailure(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 8) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case _: java.io.EOFException => return true
        // mid-swap CRC mismatch (round 15, the stress harness's second
        // captured shape): ChecksumFileSystem's delete+rename swap moves
        // the data part and its .crc sidecar non-atomically, so a reader
        // straddling the swap can verify new bytes against the old
        // checksum and die at footer open. Same advisory-metadata
        // contract as the torn page: retry sees the settled winner;
        // persistent mismatch degrades loudly to conservative scans.
        case _: org.apache.hadoop.fs.ChecksumException => return true
        case other =>
          val m = Option(other.getMessage).getOrElse("")
          if (m.contains("magic number") ||
              m.contains("is not a Parquet file") ||
              m.contains("does not exist") ||
              m.contains("can not read class org.apache.parquet.format"))
            return true
      }
      t = t.getCause
      depth += 1
    }
    false
  }

  private def rawManifestEntriesOnce(path: String): Seq[GraftManifestEntry] = {
    val sidecar = new Path(s"$path/${GraftParquetV2.StatsSidecar}")
    val fs = sidecar.getFileSystem(sessionConf())
    if (!fs.exists(sidecar)) return Nil
    val parts = fs.listStatus(sidecar).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
      .map(_.toString)
    val out = collection.mutable.ArrayBuffer.empty[GraftManifestEntry]
    parts.foreach { f =>
      val r = new GraftPartitionReader(f, GraftParquetV2.manifestSchema,
        Array.empty)
      try while (r.next()) {
        val row = r.get()
        def optLong(i: Int): Option[Long] =
          if (row.isNullAt(i)) None else Some(row.getLong(i))
        def optStr(i: Int): Option[String] =
          if (row.isNullAt(i)) None else Some(row.getString(i))
        out += GraftManifestEntry(row.getString(0), row.getString(1),
          row.getString(2), optLong(3), optLong(4), optStr(5), optStr(6),
          optLong(7), row.getLong(8))
      } finally r.close()
    }
    out.toSeq
  }

  /** Per-table in-JVM lock for the manifest swap: concurrent appends
    * (the optimistic-claim path) would otherwise interleave the
    * delete+rename and spuriously fail a commit whose DATA is already
    * in. Cross-JVM writers are covered by the bounded retry below. */
  private val manifestLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Swap a freshly written manifest over the live sidecar: write to a
    * tmp directory (underscore-prefixed — invisible to scans), then
    * delete the old sidecar and rename. The one non-atomic window
    * degrades to "no manifest" = full conservative scan, never a wrong
    * prune. The swap itself retries (another writer may have re-created
    * the live sidecar between our delete and rename) and, still losing
    * after that, GIVES UP WITHOUT FAILING the commit: the sidecar is
    * advisory pruning metadata — the authoritative per-version record
    * is the log snapshot written before this, and the surviving
    * (other writer's) sidecar still prunes correctly for the files it
    * names while ours are conservatively scanned. */
  def replaceManifest(path: String, entries: Seq[GraftManifestEntry],
      writeId: String): Unit =
    manifestLocks.computeIfAbsent(path, _ => new Object).synchronized {
      replaceManifestLocked(path, entries, writeId)
    }

  private def replaceManifestLocked(path: String,
      entries: Seq[GraftManifestEntry], writeId: String): Unit = {
    val conf = sessionConf()
    val table = new Path(path)
    val fs = table.getFileSystem(conf)
    val tmp = new Path(table,
      s"${GraftParquetV2.StatsSidecar}.tmp-$writeId")
    val mt = messageType(GraftParquetV2.manifestSchema)
    val factory = new SimpleGroupFactory(mt)
    val w = GraftParquetIO.writer(
      new Path(tmp, "part-00000.parquet"), mt, conf)
    try entries.foreach { e =>
      val g = factory.newGroup()
      g.add(0, e.file); g.add(1, e.column); g.add(2, e.kind)
      e.minLong.foreach(g.add(3, _)); e.maxLong.foreach(g.add(4, _))
      e.minStr.foreach(g.add(5, _)); e.maxStr.foreach(g.add(6, _))
      e.nullCount.foreach(g.add(7, _)); g.add(8, e.valueCount)
      w.write(g)
    } finally w.close()
    val live = new Path(table, GraftParquetV2.StatsSidecar)
    var swapped = false
    var tmpLost = false
    var attempt = 0
    while (!swapped && !tmpLost && attempt < 5) {
      fs.delete(live, true)
      swapped = fs.rename(tmp, live)
      // MERGE HAZARD (round-13 race spec): if a cross-JVM writer
      // re-created `live` between our delete and rename, Hadoop's local
      // rename does NOT fail — it moves `tmp` INSIDE `live` as a child
      // directory. Underscore-prefixed children are invisible to
      // readers (no correctness hole), but our manifest would be
      // silently absent; detect the nest, pull our tmp back out, and
      // go around the loop again.
      if (swapped) {
        val nested = new Path(live, tmp.getName)
        if (fs.exists(nested)) {
          swapped = false
          if (!fs.rename(nested, tmp)) {
            // our tmp is unrecoverable: another loop iteration would
            // delete the OTHER writer's committed sidecar with nothing
            // left to swap in — strictly worse than losing the race.
            // Clean the nest and take the degrade path immediately.
            fs.delete(nested, true)
            tmpLost = true
          }
        }
      }
      attempt += 1
    }
    if (!swapped) {
      // a cross-JVM writer keeps winning the swap: degrade, don't fail —
      // the data and log snapshot are committed; the sidecar is advisory
      fs.delete(tmp, true)
      System.err.println(
        s"[graft] manifest swap lost to a concurrent writer under $path " +
          "after 5 attempts - new files remain unmanifested " +
          "(conservatively scanned) until the next commit")
    }
  }
}
