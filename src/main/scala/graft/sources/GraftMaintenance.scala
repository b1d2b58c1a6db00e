package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, Filter, InsertStarAction, Join, LogicalPlan, MergeIntoTable, Project, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.functions.{col, lit, max, min}
import org.apache.spark.sql.graft.Bridge

/** Maintenance operations over a graft table's version log
  * ([[GraftTableLog]]): COMPACT (bin-pack small files into a new
  * version), VACUUM (reclaim archived generations past a retention
  * horizon), and HISTORY (the version ledger).
  *
  * Scale posture: compaction is one distributed read→write job whose
  * commit is the connector's own transactional overwrite — the small-
  * file problem an append-heavy 100 TB table accumulates (a streaming
  * sink's per-epoch files, incremental ingest batches) is repaired
  * without blocking readers: live scans see the old generation until
  * the metadata swap, the old generation stays time-travel-readable
  * after it. Vacuum is pure filesystem metadata work — O(archived
  * files) deletes, no data reads. */
object GraftMaintenance {

  private def conf = GraftParquetWrite.sessionConf()

  /** CLUSTERED-LAYOUT ORDERING CLAIM — `_graft_sort_spec` records
    * "version V's files are each internally sorted on COLS" after a
    * clustered compaction. The claim is pinned to that exact version:
    * any later write bumps the head and the claim silently lapses
    * (appended files aren't sorted), so the scan only reports
    * [[org.apache.spark.sql.connector.read.SupportsReportOrdering]]
    * when the read target IS the clustered version — ordering is a
    * CORRECTNESS claim, never an estimate. Re-compacting re-claims. */
  val SortSpecFile = "_graft_sort_spec"

  private val sortSpecCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[(Long, Seq[String])]]()

  def writeSortSpec(table: String, version: Long,
      cols: Seq[String]): Unit = {
    val f = new Path(table, SortSpecFile)
    val fs = f.getFileSystem(conf)
    val tmp = new Path(table,
      s"_tmp_sort_spec-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"$version\t${cols.mkString(",")}".getBytes("UTF-8"))
    finally out.close()
    fs.delete(f, false)
    require(fs.rename(tmp, f),
      s"graft compact: could not persist sort spec at $f")
    sortSpecCache.put(table, Some((version, cols)))
  }

  /** (clustered version, cluster columns) — cached per JVM; a stale
    * cache can only mis-claim a version that genuinely WAS clustered
    * (specs are version-pinned and files immutable), never order that
    * never existed. */
  def readSortSpec(table: String): Option[(Long, Seq[String])] =
    sortSpecCache.computeIfAbsent(table, t => {
      val f = new Path(t, SortSpecFile)
      val fs = f.getFileSystem(conf)
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        val cut = line.indexOf('\t')
        Some((line.substring(0, cut).toLong,
          line.substring(cut + 1).split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq))
      }
    })

  /** One ledger row: a committed version, its file count, and its
    * total row count when every file carried footer stats (None when
    * any file is a bare `present` entry). */
  final case class GraftVersionInfo(version: Long, files: Int,
      rows: Option[Long])

  /** The table's version ledger, ascending. Row counts come from each
    * snapshot's own entries (max per-column value_count per file — the
    * row count of the file) MINUS the version's deletion-vector
    * positions (merge-on-read deletes shrink the row count with no
    * file change); no data reads — DV files are manifest-scale. */
  def history(table: String): Seq[GraftVersionInfo] =
    GraftTableLog.versions(table).map { v =>
      val (rels, dvRels, stats) = GraftTableLog.readSnapshotFull(table, v)
      val dv =
        if (dvRels.isEmpty) Map.empty[String, GraftDvBitmap]
        else GraftDeletes.readPositions(
          GraftDeletes.resolveDvRels(table, dvRels))
      val counts = rels.map { rel =>
        val base = new Path(rel).getName
        stats.get(base)
          .flatMap(_.values.map(_.valueCount).maxOption)
          .map(_ - dv.get(base).map(_.cardinality).getOrElse(0L))
      }
      GraftVersionInfo(v, rels.size,
        if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None)
    }

  /** Bin-pack the live table into ~`targetFileBytes` files as a NEW
    * VERSION: read through the connector, repartition to the packed
    * file count, write back as a transactional truncate-overwrite —
    * the replaced generation is archived, so `versionAsOf` the
    * pre-compaction version still answers (until vacuumed). Rows are
    * untouched: same bytes in, same rows out, hash-provable (the
    * catalog query does exactly that). Partitioned (`col=value`)
    * tables re-write under the same partition columns — partition
    * values ride IN the data files (the write path's Iceberg
    * convention), so the layout round-trips without schema surgery;
    * rows are repartitioned BY the partition columns so each task
    * holds one open writer. Returns the new head version. */
  def compact(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Nil): Long = {
    require(targetFileBytes > 0, "graft compact: targetFileBytes must be > 0")
    // compact READS the table it overwrites: a commit landing between
    // this capture and the overwrite's commit would be truncated away
    // — a lost update. The read version rides a write option down to
    // the overwrite commit, which validates it under the rewrite lock
    // ([[GraftConflicts]]) and refuses (retryable) if the head moved.
    val read = GraftConflicts.captureRead(table)
    val totalBytes = GraftParquetV2.totalFileBytes(table)
    val n = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue).toInt
    val df = spark.read.format("graft.sources.GraftParquetTableProvider")
      .option("path", table).load()
    val partCols = GraftCatalog.effectivePartCols(table, df.schema)
    require(clusterBy.forall(df.schema.fieldNames.contains),
      s"graft compact: clusterBy ${clusterBy.mkString(",")} not all in " +
        s"schema ${df.schema.fieldNames.mkString(",")}")
    import org.apache.spark.sql.functions.col
    val packed =
      // CLUSTERED compaction: range-partition + sort on the cluster
      // keys, so the packed files carry DISJOINT zone-map ranges —
      // point/range filters on those keys then prune to ~one file
      // instead of all of them (the OPTIMIZE…ZORDER shape, with range
      // clustering; the Z-order/Hilbert writers in Sinks remain the
      // multi-column interleave option). One range exchange, exactly
      // what the packing rewrite was paying anyway.
      if (clusterBy.nonEmpty)
        df.repartitionByRange(n, clusterBy.map(col): _*)
          .sortWithinPartitions(clusterBy.map(col): _*)
      else if (partCols.nonEmpty)
        df.repartition(n, partCols.map(col): _*)
      else df.repartition(n)
    val writer = packed.write
      .format("graft.sources.GraftParquetTableProvider")
      .option("path", table)
      .option("conflictReadVersion", read.version.toString)
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
    (if (partCols.nonEmpty)
      writer.option("partitionBy", partCols.mkString(","))
    else writer).save()
    val v = GraftTableLog.latestVersion(table).getOrElse(
      throw new IllegalStateException(
        s"graft compact: overwrite committed but no log version under $table"))
    // clustered packing leaves every file internally SORTED on the
    // cluster keys — record the claim for this exact version so scans
    // of it report ordering (and consumers drop their Sort nodes)
    if (clusterBy.nonEmpty) writeSortSpec(table, v, clusterBy)
    v
  }

  /** INCREMENTAL COMPACTION — the maintenance shape that survives
    * 100 TB: bin-pack ONLY the small-file tail instead of rewriting
    * the table. Candidates are live files under ¾ of
    * `targetFileBytes`, grouped by PARTITION DIRECTORY (packing never
    * merges rows across `col=value` directories — that would break the
    * pruning layout); a group packs only when it has at least
    * `minInputFiles` candidates (a lone small file has nothing to
    * gain). The candidates are read DV-aware ([[readFilesWithDeletes]]
    * — a packed rewrite after a merge-on-read delete must not
    * resurrect rows), re-packed to ~target-sized files, and committed
    * through [[rewriteCommit]]: right-sized files are NEVER read,
    * moved, or rewritten, the commit validates the candidates are
    * still live (concurrent-rewrite refusal, retryable), and the
    * replaced generation archives for time travel.
    *
    * Cost ∝ the small-file tail (the daily-ingest residue), not the
    * table — a nightly run over a 100 TB table whose day added 2 000
    * small files reads and writes that day's bytes only. The
    * whole-table [[compact]] remains the layout-reset tool (and the
    * clustered/Z-order path). Returns the new head version, or the
    * current one when nothing qualifies (a provable no-op). */
  def compactSmallFiles(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      minInputFiles: Int = 2): Long = {
    require(targetFileBytes > 0,
      "graft compactSmallFiles: targetFileBytes must be > 0")
    require(minInputFiles >= 2,
      "graft compactSmallFiles: minInputFiles must be >= 2 (packing " +
        "one file is a rewrite with nothing to gain)")
    val read = GraftConflicts.captureRead(table)
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val threshold = targetFileBytes * 3 / 4
    val sized = GraftParquetV2.listFiles(table)
      .map(f => f -> fs.getFileStatus(new Path(f)).getLen)
    // partition-dir bin groups, keyed by the file's parent relative to
    // the table root ("" for unpartitioned)
    def dirKey(f: String): String =
      Option(new Path(GraftTableLog.relativize(table, f)).getParent)
        .map(_.toString).getOrElse("")
    val candidates = sized.filter(_._2 < threshold)
      .groupBy { case (f, _) => dirKey(f) }
      .filter { case (_, g) => g.size >= minInputFiles }
      .values.flatten.toSeq
    if (candidates.isEmpty)
      return GraftTableLog.latestVersion(table).getOrElse(0L)
    val files = candidates.map(_._1)
    val smallBytes = candidates.map(_._2).sum
    val n = math.max(1L,
      (smallBytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue).toInt
    val df = connectorRead(spark, table)
    val partCols = GraftCatalog.effectivePartCols(table, df.schema)
    val rows = readCandidates(spark, table, df.schema, files,
      GraftDeletes.livePositions(table))
    import org.apache.spark.sql.functions.col
    // hash on the partition columns: each partition's small rows land
    // in ONE task → one packed file per partition directory (a
    // partition whose small tail exceeds the target packs to a single
    // over-target file — still bounded by that partition's tail, and
    // the next whole-partition compact resets layout)
    val packed =
      if (partCols.nonEmpty) rows.repartition(n, partCols.map(col): _*)
      else rows.repartition(n)
    rewriteCommit(spark, table, files, packed, partCols, read)
  }

  private def connectorRead(spark: SparkSession, table: String): DataFrame =
    spark.read.format("graft.sources.GraftParquetTableProvider")
      .option("path", table).load()

  /** Read raw parquet `files` under `schema` with deletion vectors
    * APPLIED — the DV-aware twin of `spark.read.parquet` for the
    * maintenance paths that read candidate files directly (the
    * file-granular rewrites, the CDC feed). Deletes anti-join on
    * `(_metadata.file_path basename, _metadata.row_index)` — the
    * built-in source's row ordinal is the same file-absolute position
    * the DV format stores — with the (driver-small, delete-sized) DV
    * rows broadcast. Without this, a COW rewrite after a merge-on-read
    * delete would RESURRECT the deleted rows into the new generation. */
  private[sources] def readFilesWithDeletes(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, files: Seq[String],
      dv: Map[String, GraftDvBitmap],
      aliases: Map[String, Seq[String]] = Map.empty): DataFrame = {
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (files.isEmpty) return empty
    // one raw read of a file GROUP whose physical names match
    // `physSchema`, deletes applied
    def readGroup(physSchema: org.apache.spark.sql.types.StructType,
        group: Seq[String]): DataFrame = {
      val base = spark.read.schema(physSchema).parquet(group: _*)
      val relevant = group.map(f => new Path(f).getName).toSet
      val hits = dv.filter { case (b, _) => relevant(b) }
      if (hits.isEmpty) return base
      import org.apache.spark.sql.functions.{broadcast, element_at, split}
      import spark.implicits._
      val del = hits.toSeq
        .flatMap { case (b, ps) => ps.iterator.map(p => (b, p)) }
        .toDF("_dv_file", "_dv_pos")
      base
        .withColumn("_dv_file",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("_dv_pos", col("_metadata.row_index"))
        .join(broadcast(del), Seq("_dv_file", "_dv_pos"), "left_anti")
        .select(physSchema.fieldNames.map(col).toSeq: _*)
    }
    if (aliases.isEmpty) return readGroup(schema, files)
    // RENAMED columns: each file carries the physical name of its era —
    // group the candidates by their per-file resolution of the logical
    // schema (footer reads, candidate-scale, driver-side; the rewrite
    // is about to read these files wholesale anyway), read each group
    // under its physical names, alias back to logical, and union
    val grouped = files.groupBy { f =>
      import scala.jdk.CollectionConverters._
      val phys = GraftParquetV2.footerSchema(f)
        .getFields.asScala.map(_.getName).toSet
      schema.fieldNames.toSeq.map(n =>
        aliases.getOrElse(n, Seq(n)).find(phys.contains).getOrElse(n))
    }
    grouped.map { case (physNames, group) =>
      val physSchema = org.apache.spark.sql.types.StructType(
        schema.fields.zip(physNames).map { case (fld, pn) =>
          fld.copy(name = pn)
        })
      readGroup(physSchema, group.toSeq)
        .select(physNames.zip(schema.fieldNames).map { case (pn, ln) =>
          col(pn).as(ln)
        }.toSeq: _*)
    }.reduceOption(_.unionByName(_)).getOrElse(empty)
  }

  /** A rewrite's CANDIDATE rows, deletes applied. The candidates were
    * live when the rewrite planned, but a concurrent rewrite may have
    * archived one since; Spark checks paths while building the read,
    * so that failure lands here, before [[rewriteCommit]] validates. */
  private[graft] def readCandidates(spark: SparkSession, table: String,
      schema: org.apache.spark.sql.types.StructType,
      candidates: Seq[String], dv: Map[String, GraftDvBitmap]): DataFrame =
    conflictIfVanished(table, candidates) {
      readFilesWithDeletes(spark, schema, candidates, dv,
        GraftCatalog.readAliases(table, conf))
    }

  /** Run `body`, which reads the rewrite's `candidates`; a failure while
    * any candidate is gone means a concurrent rewrite committed — retype
    * it as the retryable conflict it is. */
  private def conflictIfVanished[T](table: String,
      candidates: Seq[String])(body: => T): T =
    try body catch {
      case e: Throwable =>
        val fs = new Path(table).getFileSystem(conf)
        val vanished = candidates.filterNot(f =>
          try fs.exists(new Path(f)) catch { case _: Exception => true })
        if (vanished.nonEmpty) throw new GraftConcurrentWriteException(
          s"graft rewrite conflict under $table: ${vanished.size} " +
            s"candidate file(s) vanished mid-read (a concurrent " +
            "rewrite committed) — re-plan against the new head and " +
            "retry", e)
        else throw e
    }

  /** File-granular rewrite commit for the maintenance calls
    * (compactSmallFiles, rewriteDeletes, recluster — row-level
    * commands run Spark's own rewrite, [[runRowLevel]]): the REWRITTEN
    * rows replace the CANDIDATE files; every other file is untouched —
    * no data read, no data written, just carried into the new version
    * by the [[GraftSwap]] (candidates archived before the rewritten
    * files rename in, a failed grow undone).
    *
    * CONCURRENCY ([[GraftConflicts]]): the expensive compute (the
    * scratch write, which reads the still-live candidates) runs
    * UNLOCKED so disjoint rewrites overlap their Spark jobs; the swap
    * runs under the table's cross-JVM rewrite lock, where the
    * operation's read snapshot (`read`, captured before it planned) is
    * validated against the head at snapshot level — a concurrent
    * commit that removed a candidate or changed merge-on-read deletes
    * touching one refuses with a retryable
    * [[GraftConcurrentWriteException]] and the table untouched. */
  private def rewriteCommit(spark: SparkSession, table: String,
      candidates: Seq[String], rewritten: DataFrame,
      partCols: Seq[String], read: GraftConflicts.RewriteReadState): Long = {
    val tmp = s"$table/_rewrite-${java.util.UUID.randomUUID()}"
    try {
      // write the rewritten rows to an invisible scratch graft table
      // (the job READS the candidate files — they are still live). A
      // concurrent rewrite that archives a candidate mid-job fails
      // this read — retype the failure as the conflict it is
      val w = rewritten.write
        .format("graft.sources.GraftParquetTableProvider")
        .option("path", tmp).mode(org.apache.spark.sql.SaveMode.Append)
      conflictIfVanished(table, candidates) {
        (if (partCols.nonEmpty)
          w.option("partitionBy", partCols.mkString(","))
        else w).save()
      }
      // an all-rows rewrite to nothing (truncate) commits ZERO files —
      // the scratch table then has no data directory at all
      val rels = (try GraftParquetV2.listFiles(tmp) catch {
        case _: java.io.FileNotFoundException => Nil
      }).map(GraftTableLog.relativize(tmp, _))
      // the scratch table's own manifest: footer stats rode its write
      val entries = GraftParquetWrite.rawManifestEntries(tmp)
      require(rels.map(r => new Path(r).getName).toSet
        .subsetOf(entries.map(_.file).toSet),
        s"graft rewrite: scratch manifest under $tmp is missing entries")
      GraftConflicts.withRewriteLock(table) {
        GraftConflicts.validateRewrite(table, read, candidates,
          serializable = false)
        GraftSwap.commit(table, java.util.UUID.randomUUID().toString,
          new Path(tmp), rels, entries, archive = candidates)
      }
      GraftTableLog.latestVersion(table).getOrElse(
        throw new IllegalStateException(
          s"graft rewrite: commit left no log version under $table"))
    } catch {
      case e: Throwable => // the swap removed the scratch on success
        new Path(tmp).getFileSystem(conf).delete(new Path(tmp), true)
        throw e
    }
  }

  /** Run a row-level command built over the table's own relation
    * (`DeleteFromTable` / `UpdateTable` / `MergeIntoTable`) through
    * Spark's DSv2 rewrite — the plan SQL `DELETE` / `UPDATE` /
    * `MERGE INTO` take: [[GraftRowLevelOperation]] (copy-on-write: its
    * scan prunes the candidate files by the condition's zone maps, its
    * commit validates the read and swaps them) or, under
    * `spark.graft.rowLevelMode = merge-on-read`,
    * [[GraftDeltaOperation]]. Spark wraps a commit's refusal in its
    * job-abort error; the retryable [[GraftConcurrentWriteException]]
    * is re-thrown as itself. Returns the head version after the
    * command (the current one when zone maps refuted every file — a
    * no-op that commits nothing). */
  private[sources] def runRowLevel(spark: SparkSession, table: String,
      plan: LogicalPlan): Long = {
    try Bridge.ofRows(spark, plan)
    catch {
      case e: Throwable => throw Iterator.iterate(e)(_.getCause)
        .takeWhile(_ != null)
        .collectFirst { case c: GraftConcurrentWriteException => c }
        .getOrElse(e)
    }
    GraftTableLog.latestVersion(table).getOrElse(0L)
  }

  /** ROW-LEVEL DELETE: SQL `DELETE FROM … WHERE condition` over the
    * table ([[runRowLevel]]) — copy-on-write rewrites only the files
    * whose zone maps could not REFUTE the predicate, so a
    * range-clustered or partitioned table deletes a key range by
    * rewriting ~the files that hold it, not the table. SQL DELETE
    * semantics: rows where the predicate is TRUE go; FALSE and NULL
    * stay. A literal-`true` condition is Spark's TRUNCATE
    * ([[GraftParquetTable.truncateTable]]). `condition` must be built
    * from unbound `col("name")` references — it is resolved against
    * the table, not against any caller-held DataFrame. Returns the new
    * head version (or the current one when no file could match). */
  def delete(spark: SparkSession, table: String, condition: Column): Long = {
    // resolved through an analyzed filter over the table's relation, so
    // the command and its condition share attribute ids (an unresolved
    // `Column` in a hand-built command would reach codegen unresolved)
    val Filter(cond, relation) = connectorRead(spark, table)
      .filter(condition).queryExecution.analyzed
    runRowLevel(spark, table, DeleteFromTable(relation, cond))
  }

  /** ROW-LEVEL UPDATE: SQL `UPDATE … SET … WHERE condition` over the
    * table ([[runRowLevel]]) — copy-on-write rewrites only the files
    * whose zone maps could not refute `condition`; every other file is
    * carried into the new version untouched. SQL UPDATE semantics:
    * assignments apply where the predicate is TRUE; FALSE and NULL
    * rows keep their values. Assignments may read any PRE-update
    * column and cast to the target column's declared type, so the
    * table schema never drifts. SET targets resolve against the schema
    * with the session's `spark.sql.caseSensitive` setting (insensitive
    * by default, like the analyzer); incompatible assignment types are
    * refused UP FRONT, and a narrowing-but-castable assignment (e.g.
    * string → bigint) carries an in-plan assertion so a value the cast
    * cannot represent fails the job loudly instead of silently writing
    * NULL. CHECK constraints bind to the rewritten rows. `condition`
    * and assignment values must be built from unbound `col("name")`
    * references. Returns the new head version (or the current one
    * when no file could match). */
  def update(spark: SparkSession, table: String, condition: Column,
      assignments: Map[String, Column]): Long = {
    require(assignments.nonEmpty, "graft update: no SET assignments")
    val df = connectorRead(spark, table)
    val fields = df.schema.fields
    // resolve SET targets the way the analyzer would: case-insensitive
    // unless spark.sql.caseSensitive, canonical field name wins
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false")
      .toBoolean
    val resolved: Map[String, Column] = assignments.map { case (k, v) =>
      val matches = fields.filter(f =>
        if (caseSensitive) f.name == k else f.name.equalsIgnoreCase(k))
      require(matches.nonEmpty,
        s"graft update: SET target $k not in schema " +
          s"${fields.map(_.name).mkString(",")}")
      require(matches.length == 1,
        s"graft update: SET target $k is ambiguous under case-insensitive " +
          s"resolution: ${matches.map(_.name).mkString(",")}")
      matches.head.name -> v
    }
    require(resolved.size == assignments.size,
      "graft update: two SET assignments resolve to the same column")
    // validate assignment types UP FRONT: resolve each value expression
    // against the table schema and check it can reach the target type.
    // Safe widenings cast plainly; a castable-but-narrowing assignment
    // gets an in-plan guard below; an uncastable one refuses here.
    import org.apache.spark.sql.catalyst.expressions.Cast
    val valueTypes = df.limit(0)
      .select(resolved.values.toSeq: _*).schema.fields.map(_.dataType)
    val needGuard: Set[String] =
      resolved.keys.zip(valueTypes).flatMap { case (name, vt) =>
        val target = fields.find(_.name == name).get.dataType
        if (Cast.canUpCast(vt, target)) None
        else {
          require(Cast.canAnsiCast(vt, target),
            s"graft update: cannot assign $vt to column $name: $target")
          Some(name)
        }
      }.toSet
    import org.apache.spark.sql.functions.{assert_true, when}
    val values = resolved.toSeq.map { case (name, v) =>
      val target = fields.find(_.name == name).get.dataType
      val cv = v.cast(target)
      // guard the narrowing path: under a non-ANSI cast an
      // unrepresentable value becomes NULL — assert a non-null input
      // never casts to null, so the job fails loudly instead of
      // corrupting every matched row
      (if (needGuard(name))
        when(assert_true(v.isNull || cv.isNotNull,
          lit(s"graft update: assignment to $name produced NULL from " +
            s"a non-null value — the cast to ${target.simpleString} " +
            "cannot represent it")).isNull, cv)
      else cv).as(name)
    }
    val Project(list, Filter(cond, relation)) =
      df.filter(condition).select(values: _*).queryExecution.analyzed
    val set = list.map { case a: Alias =>
      Assignment(relation.output.find(_.name == a.name).get, a.child)
    }
    runRowLevel(spark, table, UpdateTable(relation, set, Some(cond)))
  }

  /** MERGE (upsert): source rows REPLACE same-key rows and INSERT
    * otherwise (the [[graft.operators.Upsert]] semantics, committed
    * into the table as a new version) — SQL `MERGE INTO t USING s ON
    * t.key = s.key AND t.key BETWEEN lo AND hi WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` ([[runRowLevel]]).
    * `[lo, hi]` is the source's key range: Spark pushes that
    * target-only conjunct to the row-level scan, so only files whose
    * `keyCol` zone maps intersect it are read and rewritten — a merge
    * touching one day of a date-clustered table rewrites that day's
    * files, not the table. Source keys must be unique and non-null
    * (ambiguous merges refuse loudly); source columns must cover the
    * table schema. A copy-on-write commit validates SERIALIZABLY: the
    * insert decisions read the whole table, so any concurrent commit
    * refuses it (retryable).
    *
    * SCHEMA EVOLUTION: a source column the table lacks REFUSES by
    * default (the silent-drop alternative loses data the caller
    * evidently shipped on purpose); under `mergeSchema = true` it
    * AUTO-EVOLVES through the ADD COLUMN path — a zero-row schema
    * carrier commits the widened schema first
    * ([[GraftCatalog.commitSchemaCarrier]]), existing rows read the new
    * columns as NULL (the connector's add-column semantics), and the
    * merge proceeds under the widened schema, so merged/inserted rows
    * carry their values. The Delta `mergeSchema` convention. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keyCol: String, mergeSchema: Boolean = false): Long = {
    val df0 = connectorRead(spark, table)
    require(df0.schema.fieldNames.toSet.subsetOf(
      source.schema.fieldNames.toSet),
      s"graft merge: source must carry every table column; missing " +
        s"${df0.schema.fieldNames.filterNot(source.schema.fieldNames.contains)
          .mkString(",")}")
    val extras = source.schema.fields
      .filterNot(f => df0.schema.fieldNames.contains(f.name))
    require(extras.isEmpty || mergeSchema,
      s"graft merge: source carries column(s) the table lacks " +
        s"[${extras.map(_.name).mkString(", ")}] — pass mergeSchema=true " +
        "to auto-evolve the table schema (ADD COLUMN), or drop them " +
        "explicitly; silently discarding shipped data is refused")
    // EVERY refusal fires before the schema-widening carrier commits —
    // a refused merge must not leave a mutated table behind. The new
    // columns go through the SAME validation as ALTER TABLE ADD COLUMN
    // (case-insensitive uniqueness, reserved names, live-physical
    // collision — the field-identity guard a renamed-but-uncompacted
    // table depends on).
    extras.foreach(f =>
      GraftCatalog.checkAddableColumn(table, f.name, df0.schema))
    require(extras.map(_.name.toLowerCase).distinct.length == extras.length,
      s"graft merge: case-duplicate new columns " +
        s"[${extras.map(_.name).mkString(", ")}]")
    val keyStats = source.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      org.apache.spark.sql.functions.count(col(keyCol)).as("nk"),
      org.apache.spark.sql.functions
        .countDistinct(col(keyCol)).as("nd"),
      min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi")).head()
    require(keyStats.getLong(0) == keyStats.getLong(1),
      s"graft merge: null merge keys in the source")
    require(keyStats.getLong(1) == keyStats.getLong(2),
      s"graft merge: duplicate source keys — ambiguous merge refused")
    if (keyStats.getLong(0) == 0L)
      return GraftTableLog.latestVersion(table).getOrElse(0L)
    val (keyLo, keyHi) = (keyStats.get(3), keyStats.get(4))
    val df =
      if (extras.isEmpty) df0
      else {
        // widen (a committed, time-travel-visible version of its own),
        // then read under the widened schema — old files null-fill
        val widened = org.apache.spark.sql.types.StructType(
          df0.schema.fields ++
            extras.map(f => org.apache.spark.sql.types.StructField(
              f.name, f.dataType, nullable = true)))
        GraftParquetWrite.messageType(widened) // validate before committing
        GraftCatalog.commitSchemaCarrier(table, widened, conf)
        spark.read.format("graft.sources.GraftParquetTableProvider")
          .schema(widened).option("path", table).load()
      }
    val src = source.select(df.schema.fieldNames.map(col).toSeq: _*)
    // the join resolves (and de-duplicates) both sides' attributes; the
    // key range in the ON condition is what prunes the candidate files
    val k = s"`${keyCol.replace("`", "``")}`"
    val on = col(s"t.$k") === col(s"s.$k") &&
      col(s"t.$k").between(lit(keyLo), lit(keyHi))
    val Join(target, srcPlan, _, Some(cond), _) =
      df.as("t").join(src.as("s"), on).queryExecution.analyzed
    runRowLevel(spark, table, MergeIntoTable(target, srcPlan, cond,
      Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Nil,
      withSchemaEvolution = false))
  }

  /** Fold MERGE-ON-READ deletes SELECTIVELY: rewrite only the files
    * that carry deletion-vector references (reading them DV-aware, so
    * the rewritten generation materializes the deletes), leaving every
    * clean file untouched — the Iceberg `rewrite_position_deletes`
    * shape. At 100 TB this is the cheap standing-maintenance answer to
    * DV accumulation: cost ∝ DV'd files, not table size, where a full
    * [[compact]] rewrites everything. The commit's DV housekeeping
    * then archives the now-fully-stale sidecars
    * ([[GraftDeletes.fullyStale]]), so the read-side ordinal
    * merge disappears entirely. Returns the new head version (or the
    * current one when the table carries no deletes — a free no-op). */
  def rewriteDeletes(spark: SparkSession, table: String): Long = {
    val read = GraftConflicts.captureRead(table)
    val dv = GraftDeletes.livePositions(table)
    if (dv.isEmpty)
      return GraftTableLog.latestVersion(table).getOrElse(0L)
    val df = connectorRead(spark, table)
    val candidates = GraftParquetV2.listFiles(table)
      .filter(f => dv.contains(new Path(f).getName))
    val partCols = GraftCatalog.effectivePartCols(table, df.schema)
    val clean = readCandidates(spark, table, df.schema, candidates, dv)
    rewriteCommit(spark, table, candidates, clean, partCols, read)
  }

  /** ROW-LEVEL CDC feed between two versions — the change feed that
    * tails THROUGH a rewrite (UPDATE / MERGE / DELETE / compaction),
    * where the file-level `changesSince` read must refuse: each output
    * row is a row of version `until` absent from `since` tagged
    * `_change_type = 'insert'`, or a row of `since` absent from
    * `until` tagged `'delete'`. An updated row appears twice — its old
    * image as a delete, its new image as an insert — which is exactly
    * what a downstream sink needs to replay the mutation.
    *
    * Cost ∝ CHANGED FILES, not table size: only the file-set delta's
    * two sides are read (snapshot file-set diff, DV-changed files on
    * both sides); a file carried
    * between versions by reference contributes nothing, and rows
    * carried THROUGH a rewrite unchanged sit on both sides and cancel
    * in the multiset diff (`exceptAll` both ways — duplicates
    * preserved, so a table legitimately holding identical rows diffs
    * correctly). A compaction that only repacks rows therefore yields
    * an EMPTY feed — the correct answer, and the measured one
    * (spec-asserted).
    *
    * The images take `schema` when given (a caller that already
    * resolved the table, like [[GraftMv.refresh]], saves the head
    * listing), else the head's schema. */
  def changeFeedRows(spark: SparkSession, table: String, since: Long,
      until: Long,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    require(since <= until,
      s"graft change feed: cdc since $since > until $until")
    // since = 0 is the empty pre-table snapshot (versions start at 1):
    // the feed from 0 is every row of `until` as an insert image —
    // the full-history base case the CDC tail starts from
    val (fromRels, fromDvRels) =
      if (since == 0) (Seq.empty[String], Seq.empty[String])
      else {
        val (r, d, _) = GraftTableLog.readSnapshotFull(table, since)
        (r, d)
      }
    val (toRels, toDvRels, _) = GraftTableLog.readSnapshotFull(table, until)
    val dvFrom = GraftDeletes.readPositions(
      GraftDeletes.resolveDvRels(table, fromDvRels))
    val dvTo = GraftDeletes.readPositions(
      GraftDeletes.resolveDvRels(table, toDvRels))
    val fromSet = fromRels.toSet
    val toSet = toRels.toSet
    // a file BOTH versions share still changes when its deletion
    // vectors differ (a merge-on-read DELETE/UPDATE touched it with no
    // file-set change): it joins BOTH sides — read under each version's
    // own DV set — and its surviving rows cancel in the multiset diff,
    // leaving exactly the newly deleted rows as 'delete' images
    def baseOf(rel: String): String = new Path(rel).getName
    val dvChanged = fromRels.filter(toSet).filter { rel =>
      val b = baseOf(rel)
      dvFrom.getOrElse(b, GraftDvBitmap.empty) !=
        dvTo.getOrElse(b, GraftDvBitmap.empty)
    }
    val added = GraftTableLog.resolveAll(table,
      toRels.filterNot(fromSet) ++ dvChanged)
    val removed = GraftTableLog.resolveAll(table,
      fromRels.filterNot(toSet) ++ dvChanged)
    val sch = schema.getOrElse(connectorRead(spark, table).schema)
    val al = GraftCatalog.readAliases(table, conf)
    val a = readFilesWithDeletes(spark, sch, added, dvTo, al)
    val r = readFilesWithDeletes(spark, sch, removed, dvFrom, al)
    // The file sets are known DRIVER-SIDE, so the one-sided spans skip
    // the multiset diff entirely (r16 optimization round): a span that
    // only ADDED files (pure appends — every ingest commit, and the
    // most common MV refresh delta) is its added rows as insert images
    // verbatim, and a span that only REMOVED files is all deletes; the
    // two-sided multiset diff is only needed when a rewrite carried
    // rows across the span and common rows must cancel.
    if (removed.isEmpty) a.withColumn("_change_type", lit("insert"))
    else if (added.isEmpty) r.withColumn("_change_type", lit("delete"))
    else signedCountDiff(a, r)
  }

  /** ONE signed-count aggregation yields BOTH diff directions (r16
    * optimization round): Catalyst rewrites each `exceptAll` into
    * union(+1/−1) → aggregate → replicate-rows (RewriteExceptAll),
    * so the previous two-call form ran that machinery twice — every
    * added AND removed file scanned and its full row images
    * shuffled TWICE, for one feed. Summing signs once gives insert
    * images (n > 0) and delete images (n < 0) from a single
    * aggregation over a single scan of each side; row-for-row
    * identical output (group-by and exceptAll share null-safe,
    * NaN/−0.0-normalized key equality — both plan the same
    * Aggregate over all columns). */
  private def signedCountDiff(a: DataFrame, r: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.sum
    val sign = "__graft_cf_sign" // "__" is reserved (GraftMv contract)
    val n = "__graft_cf_n"
    val outCols = a.columns.toSeq
    val counted = a.withColumn(sign, lit(1L))
      .unionByName(r.withColumn(sign, lit(-1L)))
      .groupBy(outCols.map(col): _*)
      .agg(sum(col(sign)).as(n))
      .filter(col(n) =!= 0L)
    replicateImages(counted, n, outCols)
  }

  /** |n| copies per surviving image, tagged insert (n > 0) / delete
    * (n < 0). Multiplicity = how many byte-identical full rows the
    * span added minus removed — O(1) for real tables, so the repeat
    * array stays tiny (exceptAll's ReplicateRows generator streams
    * instead, but it is not exposed to the DataFrame layer). GUARDED
    * (r17, VERDICT r16 #4): array_repeat materializes |n| elements per
    * row where ReplicateRows streamed, and an int cast past
    * Int.MaxValue would silently wrap — a span whose per-row
    * multiplicity exceeds the cap now fails LOUDLY instead of OOMing
    * or miscounting. Real tables sit at |n| ≈ 1; the cap is
    * configurable for a caller that genuinely ships millions of
    * byte-identical copies of one row in one span. */
  private def replicateImages(counted: DataFrame, n: String,
      outCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{abs, array_repeat, concat,
      explode, raise_error, when}
    val maxRep = sys.props.get("graft.cdc.maxRowMultiplicity")
      .map(_.toInt).getOrElse(1 << 24)
    val absN = abs(col(n))
    counted
      .withColumn("_change_type",
        when(col(n) > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn(n, explode(array_repeat(lit(1),
        when(absN <= lit(maxRep.toLong), absN.cast("int"))
          .otherwise(raise_error(concat(
            lit("graft change feed: row-image multiplicity "), absN,
            lit(s" exceeds graft.cdc.maxRowMultiplicity=$maxRep — " +
              "a replicated diff this wide would OOM; raise the cap " +
              "only if the span genuinely carries that many " +
              "byte-identical copies of one row")))
            .cast("int")))))
      .select((outCols :+ "_change_type").map(col): _*)
  }

  /** ROLLBACK: restore the live table to the exact state of committed
    * `version` — file set, deletion-vector set, AND zone-map manifest —
    * as a NEW head commit. History is preserved (the rolled-back
    * versions stay time-travel-readable until vacuumed), which is what
    * distinguishes a rollback from rewriting history: an audit trail
    * survives the undo. Pure metadata + renames — NO data is read or
    * rewritten, so rolling back a 100 TB table costs O(changed files)
    * filesystem renames: files the later versions added move to the
    * archive, files they archived move back live, and the restored
    * version's own snapshot rows replay into the manifest (pruning
    * metadata included). A vacuumed target refuses loudly up front
    * (nothing has moved yet). Returns the new head version.
    *
    * Failure compensation: any partial move sequence is undone in
    * reverse before rethrowing, so the table returns to the pre-
    * rollback head rather than landing between generations. Single-
    * writer by contract, like overwrite/compaction. */
  def rollback(table: String, version: Long): Long = {
    val head = GraftTableLog.latestVersion(table).getOrElse(
      throw new IllegalArgumentException(
        s"graft rollback: $table has no version log"))
    require(version <= head,
      s"graft rollback: version $version is ahead of head $head")
    val (wantRels, wantDvRels, _) =
      GraftTableLog.readSnapshotFull(table, version)
    // a branch-owned version's files live outside the main lineage —
    // restoring them as the head would leave invisible `_branch_*`
    // paths squatting under main's listing rules
    require(wantRels.forall(!_.startsWith("_branch_")),
      s"graft rollback: version $version of $table belongs to a branch " +
        "lineage — read it via VERSION AS OF, or fast_forward the branch")
    // validate EVERY wanted file is still resolvable BEFORE any move —
    // a vacuumed generation refuses with zero side effects
    GraftTableLog.resolveAll(table, wantRels ++ wantDvRels)
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val liveRels = (try GraftParquetV2.listFiles(table) catch {
      case _: java.io.FileNotFoundException => Nil
    }).map(GraftTableLog.relativize(table, _))
    val liveDvRels = GraftDeletes.liveDvRels(table)
    val want = wantRels.toSet
    val wantDv = wantDvRels.toSet
    val live = liveRels.toSet
    val liveDv = liveDvRels.toSet
    val archRoot = new Path(root, GraftTableLog.ArchiveDir)
    // (src, dest) move ledger for compensation — applied moves only
    var moved = List.empty[(Path, Path)]
    def move(src: Path, dest: Path): Unit = {
      require(!fs.exists(dest),
        s"graft rollback: move collision at $dest under $table")
      fs.mkdirs(dest.getParent)
      require(fs.rename(src, dest),
        s"graft rollback: rename $src -> $dest failed under $table")
      moved ::= (src, dest)
    }
    try {
      // 1. archive what the later versions added (live ∖ wanted)
      (liveRels.filterNot(want) ++ liveDvRels.filterNot(wantDv))
        .foreach { rel =>
          move(new Path(root, rel), new Path(archRoot, rel))
        }
      // 2. restore what they archived (wanted ∖ live)
      (wantRels.filterNot(live) ++ wantDvRels.filterNot(liveDv))
        .foreach { rel =>
          move(new Path(archRoot, rel), new Path(root, rel))
        }
    } catch {
      case e: Throwable =>
        moved.foreach { case (src, dest) =>
          if (!fs.rename(dest, src))
            System.err.println(s"[graft] rollback compensation FAILED " +
              s"to restore $src under $table - restore it manually")
        }
        throw e
    }
    // 3. commit: the restored version's own manifest rows become the
    //    new head's manifest (zone maps travel with the rollback); the
    //    snapshot is built from the live listing, which now equals the
    //    restored file set. DV surgery above was exact (the restored
    //    version's own DV set), so no sidecar can be stranded and the
    //    commit passes no `removed` files — no staleness rescan.
    val entries = GraftTableLog.readSnapshotEntries(table, version)
    GraftParquetWrite.commitMetadata(table, entries,
      java.util.UUID.randomUUID().toString)
    GraftTableLog.latestVersion(table).getOrElse(
      throw new IllegalStateException(
        s"graft rollback: commit left no log version under $table"))
  }

  /** FAST-FORWARD a branch into main — the git condition made exact in
    * state space: legal only while main's CURRENT file set equals the
    * branch's BASE snapshot (main unchanged since the fork; a diverged
    * main refuses — re-create the branch and replay). Adoption is the
    * visibility flip: every branch-added file renames from the
    * invisible `_branch_<name>/` lineage dir into the table root under
    * its basename (unique by writeId construction), one main snapshot
    * commits the adopted set with the branch's pruning entries riding
    * into the live manifest, and the ref drops. Branch-era versions
    * stay time-travelable: [[GraftTableLog.resolveAll]] resolves their
    * `_branch_*` rels to the moved basenames. At object-store scale
    * the flip would be a manifest swap instead of N renames — the
    * local-FS rename is the honest single-filesystem equivalent.
    * Returns (new main version, files adopted). */
  def fastForward(table: String, branch: String): (Long, Int) = {
    val (head, base) = GraftTableLog.readBranch(table, branch).getOrElse(
      throw new IllegalArgumentException(
        s"graft fast_forward: branch '$branch' does not exist on $table"))
    val liveRels = (try GraftParquetV2.listFiles(table) catch {
      case _: java.io.FileNotFoundException => Nil
    }).map(GraftTableLog.relativize(table, _)).toSet
    val (baseRels, _, _) = GraftTableLog.readSnapshotFull(table, base)
    require(liveRels == baseRels.toSet,
      s"graft fast_forward: main advanced since branch '$branch' forked " +
        s"at version $base of $table — fast-forward is only legal while " +
        "main is unchanged; create a fresh branch and replay instead")
    val (headRels, _, _) = GraftTableLog.readSnapshotFull(table, head)
    val adopted = headRels.filterNot(baseRels.toSet)
    require(adopted.forall(_.startsWith(s"_branch_$branch/")),
      s"graft fast_forward: branch '$branch' head carries files outside " +
        s"its own lineage dir under $table — refusing a corrupt ref")
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    // the visibility flip — validated collision-free BEFORE any move
    adopted.foreach { rel =>
      val dest = new Path(root, new Path(rel).getName)
      require(!fs.exists(dest),
        s"graft fast_forward: basename collision at $dest under $table")
    }
    // FENCE (every validation passed; nothing moved yet): atomically
    // retire the ref iff the head is still the one whose files we are
    // about to adopt ([[GraftTableLog.casDropBranch]]). A branch
    // commit that CASes the head between our read and this fence wins
    // the seq claim — we refuse (retryable, table and branch
    // untouched) instead of deleting its just-committed files; a
    // commit arriving AFTER the fence fails loudly with "branch does
    // not exist". This closes the lost-committed-write window the
    // old read-once-then-delete sequence carried.
    val fenceSeq = GraftTableLog.casDropBranch(table, branch, head)
      .getOrElse(throw new GraftConcurrentWriteException(
        s"graft fast_forward: branch '$branch' advanced under $table " +
          "while fast-forward validated — retry to adopt the new head"))
    if (adopted.isEmpty) { // nothing to adopt: reap the ref, done
      GraftTableLog.dropBranchRef(table, branch)
      fs.delete(new Path(root, s"_branch_$branch"), true)
      return (GraftTableLog.latestVersion(table).getOrElse(base), 0)
    }
    // Adoption is N renames + one commit with NO multi-file atomicity
    // (single-filesystem rename is the honest local equivalent of an
    // object-store manifest flip, which WOULD be atomic). A failed
    // rename mid-loop must not leave already-moved files in the table
    // root unmanifested — main readers conservatively scan the root, so
    // partial branch data would become visible with no rollback. On
    // failure: best-effort rename the moved prefix BACK into the
    // lineage dir, then rethrow. Remaining crash window: a process
    // death between the last rename and commitMetadata below — same
    // window every multi-file local-FS committer carries; the
    // basenames are writeId-unique so a re-run's collision check
    // detects the leftovers explicitly rather than double-adopting.
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      adopted.foreach { rel =>
        require(fs.rename(new Path(root, rel),
          new Path(root, new Path(rel).getName)),
          s"graft fast_forward: rename failed for $rel under $table")
        moved += rel
      }
    } catch {
      case e: Throwable =>
        moved.reverseIterator.foreach { rel =>
          try fs.rename(new Path(root, new Path(rel).getName),
            new Path(root, rel))
          catch { case _: Exception => () } // best-effort unwind
        }
        // lift the fence: the kept predecessor seq becomes the head
        // again, so the branch survives a failed adoption intact
        GraftTableLog.undropBranch(table, branch, fenceSeq)
        throw e
    }
    fs.delete(new Path(root, s"_branch_$branch"), true)
    // one main commit: the live listing now equals base + adopted; the
    // branch head's manifest rows (keyed by basename — unchanged by
    // the move) ride into the new head so pruning survives adoption
    val entries = GraftTableLog.readSnapshotEntries(table, head)
    GraftParquetWrite.commitMetadata(table, entries,
      s"ff-$branch-${java.util.UUID.randomUUID().toString}")
    GraftTableLog.dropBranchRef(table, branch)
    val v = GraftTableLog.latestVersion(table).getOrElse(
      throw new IllegalStateException(
        s"graft fast_forward: commit left no log version under $table"))
    (v, adopted.size)
  }

  /** DROP a branch: the ref goes away and its unmerged lineage files
    * ARCHIVE (rel structure preserved), so branch-era versions remain
    * time-travelable until vacuum reclaims them — the tag-drop
    * retention story applied to a lineage. Returns files archived; -1
    * when the branch did not exist. */
  def dropBranch(table: String, branch: String): Int = {
    if (GraftTableLog.readBranch(table, branch).isEmpty) return -1
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val dir = new Path(root, s"_branch_$branch")
    var archived = 0
    if (fs.exists(dir)) {
      def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) {
          GraftTableLog.archiveFile(table, st.getPath.toString)
          archived += 1
        }
      }
      walk(dir)
      fs.delete(dir, true)
    }
    GraftTableLog.dropBranchRef(table, branch)
    archived
  }

  /** Reclaim history: keep the newest `retainLast` versions — plus,
    * when `retainHours` is set, every version committed within that
    * horizon (commit time = the snapshot file's mtime, the same clock
    * `TIMESTAMP AS OF` reads) — delete every ARCHIVED file no retained
    * version references, and drop the older versions' log entries.
    * The two retention rules UNION (the Delta/Iceberg convention: a
    * time policy never vacuums the head, a count policy never vacuums
    * inside the time window). Live files are never touched — only the
    * archive shrinks. Returns the number of data files deleted. Time
    * travel to a dropped version refuses loudly afterwards — the
    * version is gone from the log, and a reader holding a pre-vacuum
    * pin fails with "neither live nor archived" rather than reading a
    * silent subset (both spec-asserted); `retainLast >= 1` always
    * holds the head version. */
  def vacuum(table: String, retainLast: Int = 1,
      retainHours: Option[Double] = None): Int = {
    require(retainLast >= 1, "graft vacuum: retainLast must be >= 1")
    retainHours.foreach(h => require(h >= 0,
      s"graft vacuum: retainHours must be >= 0, got $h"))
    val all = GraftTableLog.versions(table)
    if (all.isEmpty) return 0
    val timeRetained: Set[Long] = retainHours match {
      case None => Set.empty
      case Some(h) =>
        val fs = new Path(table).getFileSystem(conf)
        val horizonMs =
          System.currentTimeMillis() - (h * 3600 * 1000).toLong
        all.filter { v =>
          fs.getFileStatus(GraftTableLog.snapshotPath(table, v))
            .getModificationTime >= horizonMs
        }.toSet
    }
    // tagged versions are RETENTION ROOTS: a tag pins its snapshot and
    // every file it references past any count/time policy — vacuum
    // reclaims them only after drop_tag. Branch HEADS and BASES pin
    // the same way: a live branch must stay readable (head) and
    // fast-forwardable (base) whatever main does in the meantime
    val tagged = GraftTableLog.tags(table).map(_._2).toSet ++
      GraftTableLog.branches(table).flatMap(b => Seq(b._2, b._3))
    val retained = all.filter(v =>
      timeRetained.contains(v) || tagged.contains(v) ||
        all.takeRight(retainLast).contains(v))
    val dropped = all.filterNot(retained.contains)
    // keep a retained version's DATA files and its DELETION-VECTOR
    // sidecars alike — an archived DV a retained snapshot references
    // must survive, or time travel there would resurrect deleted rows
    val keepRels: Set[String] = retained.flatMap { v =>
      val (rels, dvRels, _) = GraftTableLog.readSnapshotFull(table, v)
      rels ++ dvRels
    }.toSet
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    val archRoot = new Path(root, GraftTableLog.ArchiveDir)
    var deleted = 0
    if (fs.exists(archRoot)) {
      GraftTableLog.archivedStatuses(table).foreach { st =>
        val rel = GraftTableLog.relativize(
          archRoot.toString, st.getPath.toString)
        if (!keepRels.contains(rel)) {
          require(fs.delete(st.getPath, false),
            s"graft vacuum: delete failed for archived $rel")
          deleted += 1
        }
      }
      // prune now-empty archive partition directories (metadata tidiness;
      // resolution never depends on it)
      def prune(d: Path): Unit = {
        fs.listStatus(d).foreach(st => if (st.isDirectory) prune(st.getPath))
        if (d != archRoot && fs.listStatus(d).isEmpty) fs.delete(d, false)
      }
      prune(archRoot)
    }
    // drop the dead versions' log files LAST — if a delete above fails,
    // the log still names every version whose files exist
    dropped.foreach { v =>
      val p = GraftTableLog.snapshotPath(table, v)
      if (fs.exists(p)) fs.delete(p, false)
    }
    deleted
  }

  /** INCREMENTAL RE-CLUSTERING (the Delta incremental-OPTIMIZE shape):
    * restore the table's ordering claim by rewriting ONLY the files
    * appended since the last clustered version — cost ∝ the TAIL, not
    * the table. A clustered compaction pins "version V's files are
    * each internally sorted on COLS" ([[SortSpecFile]]); any append
    * lapses the claim for the WHOLE table, and at 100 TB a full
    * re-compaction per append cycle is not an answer. Files are
    * immutable, so V's files that are STILL LIVE are still sorted —
    * only the live files OUTSIDE V's snapshot (appends, COW/MOR
    * rewrite outputs) need sorting. They are read DV-aware, range-
    * partitioned + sorted on the cluster columns, swapped in via the
    * compensating [[rewriteCommit]], and the claim re-pins at the new
    * head. An overwritten table degenerates gracefully: every live
    * file is tail, and recluster equals a full clustered compaction.
    * Returns (new head version, tail files rewritten) — (head, 0) is
    * the free no-op when the claim already covers the live set. */
  def recluster(spark: SparkSession, table: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Long, Int) = {
    require(targetFileBytes > 0,
      "graft recluster: targetFileBytes must be > 0")
    val read = GraftConflicts.captureRead(table)
    val (v0, cols) = readSortSpec(table).getOrElse(
      throw new IllegalArgumentException(
        s"graft recluster: no sort spec under $table — run " +
          "compact(clusterBy = …) once to establish the clustered order"))
    val v0Base: Set[String] =
      try GraftTableLog.readSnapshotFull(table, v0)._1
        .map(r => new Path(r).getName).toSet
      catch {
        case e: Exception => throw new IllegalStateException(
          s"graft recluster: clustered version $v0 of $table is not " +
            "readable (vacuumed?) — re-compact with clusterBy instead", e)
      }
    val live = GraftParquetV2.listFiles(table)
    // zero-row SCHEMA CARRIERS are vacuously sorted AND load-bearing
    // (the newest carrier is a DDL's schema source): never rewrite
    // them — archiving a post-ALTER carrier would silently revert the
    // table's schema to the data files' older era
    val tail = live.filterNot(f => v0Base.contains(new Path(f).getName))
      .filterNot(f => new Path(f).getName.endsWith("-schema.parquet") &&
        GraftParquetV2.verifiedZeroRows(f))
    val head = GraftTableLog.latestVersion(table).getOrElse(v0)
    if (tail.isEmpty) {
      // the live set IS (a subset of) the clustered generation: every
      // file is sorted — re-pin the claim at the current head so scans
      // of it report ordering again (a metadata-only repair)
      if (head != v0) writeSortSpec(table, head, cols)
      return (head, 0)
    }
    val df = connectorRead(spark, table)
    require(cols.forall(df.schema.fieldNames.contains),
      s"graft recluster: cluster columns ${cols.mkString(",")} not all " +
        s"in schema ${df.schema.fieldNames.mkString(",")}")
    val partCols = GraftCatalog.effectivePartCols(table, df.schema)
    val tailBase = tail.map(f => new Path(f).getName).toSet
    val tailBytes = (try GraftParquetV2.listFileStatuses(table) catch {
      case _: java.io.FileNotFoundException => Nil
    }).filter(st => tailBase.contains(st.getPath.getName))
      .map(_.getLen).sum
    val n = math.max(1L,
      (tailBytes + targetFileBytes - 1) / targetFileBytes)
      .min(Int.MaxValue).toInt
    import org.apache.spark.sql.functions.col
    val sorted = readCandidates(spark, table, df.schema, tail,
      GraftDeletes.livePositions(table))
      .repartitionByRange(n, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    val v = rewriteCommit(spark, table, tail, sorted, partCols, read)
    // every live file is now sorted on COLS: V's survivors by
    // immutability, the tail by this rewrite — re-pin the claim
    writeSortSpec(table, v, cols)
    (v, tail.size)
  }

  /** ORPHANED WRITE-DEBRIS RECLAMATION (the Iceberg
    * `remove_orphan_files` shape): a JVM that dies mid-write leaves
    * `_staging-<writeId>/` trees, manifest-swap `.tmp-` directories,
    * and `_tmp_*` sidecar drafts that NOTHING else ever reclaims —
    * abort() cleans them only in-process, and vacuum walks only the
    * archive. All of it is underscore-prefixed (invisible to live
    * scans — correctness never depended on this), but at 100 TB an
    * abandoned staging tree is real storage leakage, so this is the
    * standing answer: delete every known debris shape whose NEWEST
    * recursive mtime predates `olderThanHours` (a LIVE writer's
    * staging tree is being written right now — its mtimes are fresh,
    * so the default 24 h horizon can never race an in-flight commit).
    *
    * Deliberately NOT touched: the log, the archive (vacuum's job),
    * live sidecars (stats/bloom/spec/constraints), epoch markers (the
    * streaming sink's replay ledger — tiny, and deleting one would
    * re-append its epoch on recovery), and of course data files.
    * Returns (kind, name, bytes) per reclaimed entry. `dryRun = true`
    * REPORTS the same rows without deleting anything — the look-first
    * mode an operator runs before the first reclamation on a table
    * whose writers they don't fully know. */
  def removeOrphans(table: String, olderThanHours: Double = 24.0,
      dryRun: Boolean = false): Seq[(String, String, Long)] = {
    require(olderThanHours >= 0,
      s"graft remove_orphans: olderThanHours must be >= 0, got " +
        olderThanHours)
    val root = new Path(table)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val horizonMs = System.currentTimeMillis() -
      (olderThanHours * 3600 * 1000).toLong
    // An entry can vanish between listing and inspection — a concurrent
    // remove_orphans on the same table, or an aborting writer cleaning
    // its own staging. "Already gone" is SUCCESS for a reclamation, not
    // failure: skip the entry, never abort the whole procedure.
    def newestMtime(p: Path): Option[Long] =
      try {
        val st = fs.getFileStatus(p)
        if (!st.isDirectory) Some(st.getModificationTime)
        else {
          val kids = fs.listStatus(p).toSeq.flatMap(s =>
            newestMtime(s.getPath))
          Some((st.getModificationTime +: kids).max)
        }
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    val out = collection.mutable.Buffer.empty[(String, String, Long)]
    def reap(p: Path, kind: String): Unit =
      if (newestMtime(p).exists(_ < horizonMs)) {
        try {
          val bytes = fs.getContentSummary(p).getLength
          // delete-returning-false = path no longer exists (HDFS/local
          // contract): a concurrent reaper won the race — count nothing
          if (dryRun || fs.delete(p, true))
            out += ((kind, p.getName, bytes))
        } catch {
          case _: java.io.FileNotFoundException => () // lost the race
        }
      }
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_staging-"))
        reap(st.getPath, "staging")
      else if (n.startsWith(s"${GraftParquetV2.StatsSidecar}.tmp-"))
        reap(st.getPath, "manifest_tmp")
      else if (n.startsWith("_tmp_"))
        reap(st.getPath, "sidecar_tmp")
      else if (n.startsWith("_rewrite-")) // crashed rewriteCommit scratch
        reap(st.getPath, "rewrite_tmp")
    }
    val bloomDir = new Path(root, GraftBloom.BloomDir)
    if (fs.exists(bloomDir)) fs.listStatus(bloomDir).foreach { st =>
      if (st.getPath.getName.startsWith("_tmp-"))
        reap(st.getPath, "bloom_tmp")
    }
    out.toSeq.sortBy(r => (r._1, r._2))
  }
}
