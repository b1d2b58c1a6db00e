package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType,
  IntegerType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL face of the graft table format: a DataSource V2
  * [[TableCatalog]] plugin mapping `catalog.ns….table` identifiers to
  * graft tables under a warehouse root, so the WHOLE table-format
  * surface is reachable from plain SQL —
  *
  * {{{
  *   SET spark.sql.catalog.graft_lake = graft.sources.GraftCatalog
  *   SET spark.sql.catalog.graft_lake.warehouse = /data/warehouse
  *
  *   SELECT * FROM graft_lake.corp.docs                    -- head
  *   SELECT * FROM graft_lake.corp.docs VERSION AS OF 2    -- time travel
  *   SELECT * FROM graft_lake.corp.docs TIMESTAMP AS OF '2026-08-14 10:00:00'
  *   INSERT INTO graft_lake.corp.docs SELECT …             -- epoch append
  *   DROP TABLE graft_lake.corp.docs
  * }}}
  *
  * Spark's native time-travel syntax plumbs straight to
  * `loadTable(ident, version/timestamp)` — the version string pins the
  * snapshot the scan resolves ([[GraftTableLog]]); a timestamp pins
  * the LAST version whose snapshot commit time is ≤ the timestamp
  * (commit time = the snapshot file's own mtime — the log is the
  * clock). Identifier → path mapping is `warehouse/ns…/table`;
  * namespaces are directories. CREATE TABLE (and CTAS) commits a
  * zero-row SCHEMA CARRIER as version 1 — schema-on-write kept, the
  * empty table immediately readable; `PARTITIONED BY` (identity
  * columns) persists as a table-root sidecar every write route
  * honors ([[GraftCatalog.PartSpecFile]]). Tables can equally still
  * be born by their first path-based write. */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"graft catalog '$name': set spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def conf = GraftParquetWrite.sessionConf()

  private def pathOf(ident: Identifier): String =
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")

  private def existing(ident: Identifier): String = {
    val p = pathOf(ident)
    val hp = new Path(p)
    if (!hp.getFileSystem(conf).exists(hp))
      throw new NoSuchTableException(ident)
    p
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((warehouse +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir))
      throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).collect {
      case st if st.isDirectory &&
          !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".") =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }

  /** Schema source: the NEWEST-mtime live file — add-column evolution
    * writes the widened schema into the newer generation, so the
    * newest file carries the widest view (the lexically-first file
    * could be an old narrow one and would hide the added columns from
    * SQL reads). Empty head (post-TRUNCATE): fall back to the newest
    * ARCHIVED file — the table had a schema once and the archive still
    * holds it. */
  private def schemaFile(p: String): String = {
    val live = try GraftParquetV2.listFileStatuses(p) catch {
      case _: java.io.FileNotFoundException => Nil
    }
    (live ++ (if (live.isEmpty) GraftParquetV2.archivedDataStatuses(p)
      else Nil))
      .sortBy(st => (st.getModificationTime, st.getPath.getName))
      .lastOption.map(_.getPath.toString)
      .getOrElse(throw new IllegalStateException(
        s"graft catalog: $p has no live or archived data file to carry " +
          "a schema"))
  }

  private def partSpecOf(p: String): Seq[String] =
    GraftCatalog.readPartSpec(p, conf)

  override def loadTable(ident: Identifier): Table = {
    // METADATA TABLES: `ns.t.history` resolves here as namespace
    // [ns, t] + name `history` — served ONLY when that full path is
    // not a real table while the parent is (a real table named
    // `history` always wins; no shadowing)
    val hp = new Path(pathOf(ident))
    if (!hp.getFileSystem(conf).exists(hp) &&
        ident.namespace().nonEmpty &&
        GraftMetadataTables.names(ident.name().toLowerCase)) {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      val pp = new Path(pathOf(parent))
      if (pp.getFileSystem(conf).exists(pp))
        return GraftMetadataTables.table(pathOf(parent),
          ident.name().toLowerCase)
    }
    val p = existing(ident)
    new GraftParquetTable(p, GraftParquetV2.sparkSchema(
      GraftParquetV2.footerSchema(schemaFile(p))),
      tablePartCols = partSpecOf(p),
      aliases = GraftCatalog.readAliases(p, conf))
  }

  /** `VERSION AS OF v` — the pinned snapshot's schema comes from the
    * NEWEST-mtime file OF THAT VERSION (its era's widest/most-renamed
    * view: a version after an ADD or RENAME carrier presents the
    * altered schema; one before it presents the schema as written).
    * Alias chains ride along — their suffix form resolves the era's
    * names against still-older files, never forward. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = existing(ident)
    // a number pins a version directly; anything else resolves as a
    // TAG name (`VERSION AS OF 'release-1'`) via the table's refs
    val v = GraftTableLog.resolveVersionRef(p, version)
    val (rels, _) = GraftTableLog.readSnapshot(p, v)
    val files = GraftTableLog.resolveAll(p, rels)
    // an EMPTY version (post-TRUNCATE) is a legitimate travel target:
    // zero rows under the schema the table carries elsewhere. The
    // newest file OF THIS VERSION comes from the two bulk listings the
    // planner already pays — never one getFileStatus RPC per file,
    // which would stall a 50k-file snapshot load on an object store
    // URI-path normalization on BOTH sides: listings come back
    // scheme-qualified (file:/…) while resolveAll builds plain paths —
    // a raw string compare would silently match nothing and fall back
    // to the LIVE newest file, breaking era-correct schemas
    def norm(x: String): String = new Path(x).toUri.getPath
    val wanted = files.map(norm).toSet
    val schemaSrc = ((try GraftParquetV2.listFileStatuses(p) catch {
      case _: java.io.FileNotFoundException => Nil
    }) ++ GraftTableLog.archivedStatuses(p))
      .filter(st => wanted.contains(norm(st.getPath.toString)))
      .sortBy(st => (st.getModificationTime, st.getPath.getName))
      .lastOption.map(_.getPath.toString).getOrElse(schemaFile(p))
    new GraftParquetTable(p,
      GraftParquetV2.sparkSchema(GraftParquetV2.footerSchema(schemaSrc)),
      pinnedTravel = Some(GraftTimeTravel(Some(v), None, None)),
      tablePartCols = partSpecOf(p),
      aliases = GraftCatalog.readAliases(p, conf))
  }

  /** `TIMESTAMP AS OF t` (micros since epoch from Spark): the last
    * version committed at or before `t` — commit time is the snapshot
    * file's mtime. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val p = existing(ident)
    val fs = new Path(p).getFileSystem(conf)
    val tsMs = timestampMicros / 1000L
    val candidates = GraftTableLog.versions(p).filter { v =>
      fs.getFileStatus(GraftTableLog.snapshotPath(p, v))
        .getModificationTime <= tsMs
    }
    require(candidates.nonEmpty,
      s"graft catalog: no version of $ident committed at or before " +
        s"timestamp $tsMs ms — earliest is " +
        s"${GraftTableLog.versions(p).headOption.getOrElse("none")}")
    loadTable(ident, candidates.max.toString)
  }

  private def commitSchemaCarrier(p: String, schema: StructType): Unit =
    GraftCatalog.commitSchemaCarrier(p, schema, conf)

  /** `CREATE TABLE` (and the create half of CTAS): commit a zero-row
    * schema carrier as version 1, so the empty table is immediately
    * readable under its declared schema and the data write (CTAS's
    * second half, or any later INSERT/append) is an ordinary
    * transactional version on top.
    *
    * `PARTITIONED BY (col, …)` — IDENTITY columns only — persists as
    * the table's partition spec ([[PartSpecFile]]): every
    * catalog-mediated write (SQL INSERT, CTAS data, DataFrame append)
    * applies it, and a `partitionBy` write option that CONTRADICTS it
    * refuses loudly in the write builder. That guard is what makes a
    * catalog-held spec sound — the earlier design declined PARTITIONED
    * BY precisely because an option-only DDL could silently diverge
    * from the declared layout. Transform partitioning (bucket/days/…)
    * stays out of scope: directory names hold raw values, so only
    * identity has an exact round-trip. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partCols: Seq[String] = partitions.toSeq.map {
      case t if t.name == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames match {
          case Array(n) => n
          case other => throw new UnsupportedOperationException(
            "graft catalog: PARTITIONED BY supports top-level columns " +
              s"only, got ${other.mkString(".")}")
        }
      case other => throw new UnsupportedOperationException(
        s"graft catalog: PARTITIONED BY transform '$other' is out of " +
          "scope — only identity columns have an exact directory-name " +
          "round-trip")
    }
    require(schema.nonEmpty,
      "graft catalog: CREATE TABLE needs at least one column")
    require(partCols.size < schema.size,
      "graft catalog: partitioning on EVERY column leaves no data columns")
    GraftParquetWrite.validatePartitionCols(schema, partCols)
    val p = pathOf(ident)
    val hp = new Path(p)
    val fs = hp.getFileSystem(conf)
    if (fs.exists(hp))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    GraftParquetWrite.messageType(schema) // validate before any mkdir
    fs.mkdirs(hp)
    if (partCols.nonEmpty) {
      // exclusive create: racing CREATEs already collide on mkdirs/
      // carrier; the spec is written once, before any data can land
      val out = fs.create(new Path(p, GraftCatalog.PartSpecFile), false)
      try out.write(partCols.mkString(",").getBytes("UTF-8"))
      finally out.close()
    }
    GraftCatalog.invalidatePartSpec(p) // re-create after DROP: drop stale Nil
    commitSchemaCarrier(p, schema)
    new GraftParquetTable(p, schema, tablePartCols = partCols)
  }

  /** `ALTER TABLE … ADD / RENAME / DROP COLUMN` under schema-on-write.
    * Every variant commits a ZERO-ROW SCHEMA CARRIER as a new version —
    * the newest-mtime file then presents the altered schema, and
    * `VERSION AS OF` a pre-alter version still presents the schema of
    * its era ([[loadTable(ident,version)]] reads the newest file OF
    * THAT VERSION).
    *
    * FIELD IDENTITY is the column's PHYSICAL-NAME CHAIN: data files
    * keep the name the column had when they were written; RENAME is a
    * pure metadata operation appending `old → new` to the table's
    * rename ledger ([[GraftCatalog.RenamesFile]]), and readers resolve
    * a logical column to the first chain name a file carries
    * ([[GraftCatalog.readAliases]]). Identity stays unambiguous because
    * DDL refuses any name that would COLLIDE with a physical name some
    * live file still carries — ADD of a previously-used name, RENAME
    * onto one (the Iceberg field-id guarantee, enforced at DDL time
    * instead of footer-rewritten ids; a compaction rewrites files under
    * current names and re-frees the old ones). DROP is a carrier
    * without the column — old files' values simply become unreachable
    * (still there for pre-drop time travel). Partition columns never
    * rename or drop: their names live in directory paths. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val p = existing(ident)
    def currentSchema = GraftParquetV2.sparkSchema(
      GraftParquetV2.footerSchema(schemaFile(p)))
    def refuseCollision(name: String, what: String): Unit =
      require(!GraftCatalog.livePhysicalNames(p).contains(name),
        s"graft catalog: $what '$name' collides with a physical column " +
          s"some live data file of $ident still carries — values under " +
          "that name would leak across field identities; compact the " +
          "table (rewriting files under current names) first")
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft catalog: ADD COLUMN supports top-level columns only, " +
            s"got ${add.fieldNames().mkString(".")}")
        require(add.isNullable,
          "graft catalog: added columns must be nullable — existing " +
            "rows have no value for them")
        require(add.position() == null,
          "graft catalog: ADD COLUMN appends at the end — FIRST/AFTER " +
            "positions would reorder a schema that lives in data files")
        val name = add.fieldNames()(0)
        val cur = currentSchema
        GraftCatalog.checkAddableColumn(p, name, cur)
        // versioned like every other commit, so the alter is
        // time-travel-visible (newest mtime -> the carrier IS the
        // schema source)
        commitSchemaCarrier(p, cur.add(name, add.dataType(),
          nullable = true))
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames().length == 1,
          "graft catalog: RENAME COLUMN supports top-level columns " +
            s"only, got ${ren.fieldNames().mkString(".")}")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        val cur = currentSchema
        require(cur.fieldNames.contains(from),
          s"graft catalog: column $from not in $ident " +
            s"(${cur.fieldNames.mkString(",")})")
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"graft catalog: rename target $to already exists in $ident")
        require(!GraftMeta.names(to),
          s"graft catalog: $to is a reserved metadata column name")
        require(!GraftCatalog.readPartSpec(p, conf).contains(from),
          s"graft catalog: cannot rename partition column $from — its " +
            "name lives in every partition directory path")
        refuseCollision(to, "RENAME COLUMN to")
        // a CHECK constraint referencing the column must be dropped
        // first — enforcement can never silently lapse
        GraftConstraints.refuseIfReferenced(
          org.apache.spark.sql.SparkSession.active, p, from, cur)
        GraftCatalog.appendRename(p, from, to, conf)
        commitSchemaCarrier(p, StructType(cur.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)))
      case drop: TableChange.DeleteColumn =>
        require(drop.fieldNames().length == 1,
          "graft catalog: DROP COLUMN supports top-level columns " +
            s"only, got ${drop.fieldNames().mkString(".")}")
        val name = drop.fieldNames()(0)
        val cur = currentSchema
        require(cur.fieldNames.contains(name),
          s"graft catalog: column $name not in $ident " +
            s"(${cur.fieldNames.mkString(",")})")
        require(cur.size > 1,
          s"graft catalog: cannot drop the last column of $ident")
        require(!GraftCatalog.readPartSpec(p, conf).contains(name),
          s"graft catalog: cannot drop partition column $name — its " +
            "name lives in every partition directory path")
        GraftConstraints.refuseIfReferenced(
          org.apache.spark.sql.SparkSession.active, p, name, cur)
        commitSchemaCarrier(p,
          StructType(cur.fields.filterNot(_.name == name)))
      case upd: TableChange.UpdateColumnType =>
        // TYPE WIDENING (round 15) — the remaining Iceberg-v2 schema
        // evolution member: int→long and float→double are LOSSLESS
        // up-casts, so no rewrite is needed — the carrier declares the
        // wide type and readers up-cast each file's narrow physical
        // values at read time ([[GraftAggSpec.widenValue]]; data files
        // keep the physical width of their era forever, exactly like
        // they keep their era's physical NAME under RENAME). Anything
        // lossy (narrowing, cross-family changes) is refused — that
        // WOULD need rewrite semantics the format refuses.
        require(upd.fieldNames().length == 1,
          "graft catalog: ALTER COLUMN TYPE supports top-level columns " +
            s"only, got ${upd.fieldNames().mkString(".")}")
        val name = upd.fieldNames()(0)
        val cur = currentSchema
        require(cur.fieldNames.contains(name),
          s"graft catalog: column $name not in $ident " +
            s"(${cur.fieldNames.mkString(",")})")
        val from = cur(name).dataType
        val to = upd.newDataType()
        def losslessWidening(f: DataType, t: DataType): Boolean =
          (f, t) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
        require(losslessWidening(from, to),
          s"graft catalog: ALTER COLUMN TYPE ${from.simpleString} → " +
            s"${to.simpleString} is not a lossless widening — only " +
            "int→bigint and float→double evolve in place; anything " +
            "else would need rewrite semantics the format refuses")
        require(!GraftCatalog.readPartSpec(p, conf).contains(name),
          s"graft catalog: cannot widen partition column $name — its " +
            "values live untyped in every partition directory path")
        commitSchemaCarrier(p, StructType(cur.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f)))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: ALTER TABLE ${other.getClass.getSimpleName} is " +
          "out of scope — ADD/RENAME/DROP COLUMN and lossless " +
          "ALTER COLUMN TYPE widening are supported")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(pathOf(ident))
    val fs = p.getFileSystem(conf)
    GraftCatalog.invalidatePartSpec(pathOf(ident))
    GraftCatalog.invalidateAliases(pathOf(ident))
    fs.exists(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val src = new Path(existing(oldIdent))
    val dest = new Path(pathOf(newIdent))
    val fs = src.getFileSystem(conf)
    require(!fs.exists(dest),
      s"graft catalog: rename target $newIdent already exists")
    fs.mkdirs(dest.getParent)
    require(fs.rename(src, dest),
      s"graft catalog: rename $oldIdent -> $newIdent failed")
    GraftCatalog.invalidatePartSpec(src.toString)
    GraftCatalog.invalidatePartSpec(dest.toString)
    GraftCatalog.invalidateAliases(src.toString)
    GraftCatalog.invalidateAliases(dest.toString)
  }

  // ——— MAINTENANCE PROCEDURES (`CALL catalog.system.…`) ———
  // the Iceberg convention: table maintenance is SQL-callable, so an
  // operator never needs a Scala shell to compact or reclaim history.
  // The `table` argument is catalog-relative ('ns.table').

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val SystemNs = Array("system")

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(SystemNs))
      Array("compact", "compact_small_files", "vacuum", "history",
        "ann_probe",
        "rewrite_deletes", "detail", "rollback", "tag", "drop_tag",
        "tags", "create_branch", "drop_branch", "branches",
        "fast_forward", "build_bloom", "analyze", "add_constraint",
        "drop_constraint", "constraints", "remove_orphan_files",
        "set_partition_spec", "recluster", "create_mv", "refresh_mv",
        "drop_mv")
        .map(Identifier.of(SystemNs, _))
    else Array.empty

  private def tablePath(arg: String): String = {
    val parts = arg.split('.')
    existing(Identifier.of(parts.dropRight(1), parts.last))
  }

  /** One self-binding procedure: fixed parameters, fixed output
    * schema, body = InternalRow args → result rows via a LocalScan. */
  private final class GraftProcedure(procName: String,
      params: Array[ProcedureParameter], outSchema: StructType,
      body: InternalRow => Seq[InternalRow])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft table maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false // mutates the table
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val out = body(input).toArray
      util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = outSchema
      }).iterator()
    }
  }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(SystemNs),
      s"graft catalog: procedures live under $catalogName.system")
    ident.name() match {
      case "compact" => new GraftProcedure("compact",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_file_bytes", LongType)
            .defaultValue((128L * 1024 * 1024).toString).build(),
          ProcedureParameter.in("cluster_by", StringType)
            .defaultValue("''").build()),
        StructType(Seq(StructField("version", LongType),
          StructField("files_before", IntegerType),
          StructField("files_after", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val before = GraftParquetV2.listFiles(p).size
          val cluster = Option(in.getString(2)).map(_.trim)
            .filter(_.nonEmpty).toSeq
            .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
          val v = GraftMaintenance.compact(
            org.apache.spark.sql.SparkSession.active, p,
            in.getLong(1), cluster)
          Seq(new GenericInternalRow(Array[Any](v, before,
            GraftParquetV2.listFiles(p).size)))
        })
      // incremental compaction: pack only the small-file tail, per
      // partition directory — see [[GraftMaintenance.compactSmallFiles]]
      case "compact_small_files" => new GraftProcedure(
        "compact_small_files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_file_bytes", LongType)
            .defaultValue((128L * 1024 * 1024).toString).build(),
          ProcedureParameter.in("min_input_files", IntegerType)
            .defaultValue("2").build()),
        StructType(Seq(StructField("version", LongType),
          StructField("files_before", IntegerType),
          StructField("files_after", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val before = GraftParquetV2.listFiles(p).size
          val v = GraftMaintenance.compactSmallFiles(
            org.apache.spark.sql.SparkSession.active, p,
            in.getLong(1), in.getInt(2))
          Seq(new GenericInternalRow(Array[Any](v, before,
            GraftParquetV2.listFiles(p).size)))
        })
      case "vacuum" => new GraftProcedure("vacuum",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("retain_last", IntegerType)
            .defaultValue("1").build(),
          // time-based retention: versions committed within this many
          // hours survive regardless of retain_last (< 0 = off)
          ProcedureParameter.in("retain_hours", DoubleType)
            .defaultValue("-1.0").build()),
        StructType(Seq(StructField("deleted_files", IntegerType),
          StructField("retained_versions", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val hours = Some(in.getDouble(2)).filter(_ >= 0)
          val deleted = GraftMaintenance.vacuum(p, in.getInt(1), hours)
          Seq(new GenericInternalRow(Array[Any](deleted,
            GraftTableLog.versions(p).size)))
        })
      case "history" => new GraftProcedure("history",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(StructField("version", LongType),
          StructField("files", IntegerType),
          StructField("rows", LongType, nullable = true))),
        { in =>
          val p = tablePath(in.getString(0))
          GraftMaintenance.history(p).map(h =>
            new GenericInternalRow(Array[Any](h.version, h.files,
              h.rows.map(Long.box).orNull)))
        })
      // one-row operational summary of a table's format state — the
      // DESCRIBE DETAIL convention: the head version, live file/row
      // counts, merge-on-read delete volume, rename-ledger depth, and
      // the declared partition spec, all from metadata (no data reads)
      case "detail" => new GraftProcedure("detail",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(
          StructField("version", LongType, nullable = true),
          StructField("files", IntegerType),
          StructField("rows", LongType, nullable = true),
          StructField("dv_files", IntegerType),
          StructField("dv_positions", LongType),
          StructField("renames", IntegerType),
          StructField("partition_spec", StringType),
          StructField("analyzed_version", LongType, nullable = true),
          StructField("bloom_columns", StringType),
          StructField("bloom_covered_files", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val head = GraftTableLog.latestVersion(p)
          val hist = GraftMaintenance.history(p)
          val rows = head.flatMap(v =>
            hist.find(_.version == v).flatMap(_.rows))
          val dv = GraftDeletes.livePositions(p)
          val colStats = GraftAnalyze.read(p)
          val bloomSpec = GraftBloom.readSpec(p)
          // live files with a sidecar for EVERY spec column — the
          // point-lookup coverage the next build would top up
          val bloomCovered = bloomSpec.map { case (cols, _) =>
            val bdir = new Path(p, GraftBloom.BloomDir)
            val fs = bdir.getFileSystem(conf)
            if (!fs.exists(bdir)) 0
            else {
              val have = fs.listStatus(bdir)
                .map(_.getPath.getName).filter(_.endsWith(".bloom")).toSet
              GraftParquetV2.listFiles(p).count { f =>
                val base = new Path(f).getName
                cols.forall(c => have.contains(s"$base.$c.bloom"))
              }
            }
          }.getOrElse(0)
          // ledger entries, not alias-map rows: the suffix map holds
          // every chain suffix, which would overcount chained renames
          val renames = {
            val dir = new Path(p, GraftCatalog.RenamesFile)
            val fs = dir.getFileSystem(conf)
            if (!fs.exists(dir)) 0
            else fs.listStatus(dir)
              .count(_.getPath.getName.endsWith(".rename"))
          }
          Seq(new GenericInternalRow(Array[Any](
            head.map(Long.box).orNull,
            GraftParquetV2.listFiles(p).size,
            rows.map(Long.box).orNull,
            dv.size,
            dv.valuesIterator.map(_.cardinality).sum,
            renames,
            UTF8String.fromString(
              GraftCatalog.readPartSpec(p, GraftParquetWrite.sessionConf())
                .mkString(",")),
            colStats.map(s => Long.box(s.version)).orNull,
            UTF8String.fromString(
              bloomSpec.map(_._1.mkString(",")).getOrElse("")),
            bloomCovered)))
        })
      // selective deletion-vector folding — rewrite ONLY the DV'd
      // files (cost ∝ DV'd files, not table size; the Iceberg
      // rewrite_position_deletes shape)
      case "rewrite_deletes" => new GraftProcedure("rewrite_deletes",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(StructField("version", LongType),
          StructField("files_rewritten", IntegerType),
          StructField("dv_files_folded", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val dv = GraftDeletes.livePositions(p)
          val rewritten = GraftParquetV2.listFiles(p)
            .count(f => dv.contains(new Path(f).getName))
          val dvFiles = GraftDeletes.liveDvFiles(p).size
          val v = GraftMaintenance.rewriteDeletes(
            org.apache.spark.sql.SparkSession.active, p)
          Seq(new GenericInternalRow(Array[Any](v, rewritten, dvFiles)))
        })
      // SQL-addressable ANN over a PERSISTED IVF index
      // ([[graft.operators.KMeans.saveIndex]]'s layout: exported
      // centroids + cid-partitioned inverted lists) — the round-10
      // train-once/probe-from-disk shape, reachable without a Scala
      // shell: `CALL cat.system.ann_probe(index_path => '…',
      // queries_path => '…', k => 10, nprobe => 2)`. The probe scans
      // ONLY the nprobe probed cid-directories (plan-time partition
      // pruning); the result materializes through the procedure's
      // LocalScan, so it is k × |queries| rows on the driver — the
      // procedure contract is operator-scale query sets (the same
      // boundedness as compact/history); pipeline-scale fan-outs use
      // [[graft.operators.KMeans.ivfTopK]] directly.
      case "ann_probe" => new GraftProcedure("ann_probe",
        Array(
          ProcedureParameter.in("index_path", StringType).build(),
          ProcedureParameter.in("queries_path", StringType).build(),
          ProcedureParameter.in("k", IntegerType).defaultValue("10").build(),
          ProcedureParameter.in("nprobe", IntegerType)
            .defaultValue("1").build(),
          ProcedureParameter.in("id_col", StringType)
            .defaultValue("'vec_id'").build(),
          ProcedureParameter.in("vec_col", StringType)
            .defaultValue("'embedding'").build()),
        StructType(Seq(StructField("query_id", LongType),
          StructField("rank", IntegerType),
          StructField("neighbor_id", LongType),
          StructField("cosine", DoubleType))),
        { in =>
          val spark = org.apache.spark.sql.SparkSession.active
          val indexPath = in.getString(0)
          val queriesPath = in.getString(1)
          val k = in.getInt(2)
          val nprobe = in.getInt(3)
          require(k > 0 && nprobe > 0,
            "graft ann_probe: k and nprobe must be positive")
          val (lc, la) = graft.operators.KMeans.loadIndex(spark, indexPath)
          import org.apache.spark.sql.functions.col
          val q = spark.read.parquet(queriesPath)
            .select(col(in.getString(4)).cast("long").as("query_id"),
              col(in.getString(5)).as("qv"))
          graft.operators.KMeans.ivfTopK(la, lc, q, k, nprobe)
            .select(col("query_id").cast("long"), col("rank").cast("int"),
              col("neighbor_id").cast("long"), col("cosine").cast("double"))
            .orderBy("query_id", "rank")
            .collect().toSeq.map(r => new GenericInternalRow(Array[Any](
              r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))))
        })
      // ROLLBACK: restore the table to `version` as a NEW head commit
      // (history preserved, pure metadata + renames — no data rewrite;
      // [[GraftMaintenance.rollback]])
      case "rollback" => new GraftProcedure("rollback",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType).build()),
        StructType(Seq(StructField("restored_version", LongType),
          StructField("new_version", LongType),
          StructField("files", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val target = in.getLong(1)
          val v = GraftMaintenance.rollback(p, target)
          Seq(new GenericInternalRow(Array[Any](target, v,
            GraftParquetV2.listFiles(p).size)))
        })
      // TAG: pin a name to a version (default: head). Tagged versions
      // are vacuum retention roots; `VERSION AS OF 'name'` resolves
      // them.
      case "tag" => new GraftProcedure("tag",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build()),
        StructType(Seq(StructField("name", StringType),
          StructField("version", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          val name = in.getString(1)
          val v = Some(in.getLong(2)).filter(_ >= 0).getOrElse(
            GraftTableLog.latestVersion(p).getOrElse(
              throw new IllegalArgumentException(
                s"graft tag: ${in.getString(0)} has no committed version")))
          GraftTableLog.setTag(p, name, v)
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), v)))
        })
      case "drop_tag" => new GraftProcedure("drop_tag",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("dropped", BooleanType))),
        { in =>
          val p = tablePath(in.getString(0))
          Seq(new GenericInternalRow(Array[Any](
            GraftTableLog.dropTag(p, in.getString(1)))))
        })
      case "tags" => new GraftProcedure("tags",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(StructField("name", StringType),
          StructField("version", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          GraftTableLog.tags(p).map { case (n, v) =>
            new GenericInternalRow(Array[Any](UTF8String.fromString(n), v))
          }
        })
      // BRANCHES ([[GraftTableLog]] branch refs): fork a writable
      // lineage at a version (default: head), append to it via the
      // `branch` write option, read it via `VERSION AS OF '<name>'`,
      // adopt it with fast_forward (legal only while main is
      // unchanged), or drop it (lineage files archive — still
      // time-travelable until vacuum).
      case "create_branch" => new GraftProcedure("create_branch",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("-1").build()),
        StructType(Seq(StructField("name", StringType),
          StructField("version", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          val name = in.getString(1)
          val v = Some(in.getLong(2)).filter(_ >= 0).getOrElse(
            GraftTableLog.latestVersion(p).getOrElse(
              throw new IllegalArgumentException(
                s"graft create_branch: ${in.getString(0)} has no " +
                  "committed version")))
          GraftTableLog.createBranch(p, name, v)
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), v)))
        })
      case "drop_branch" => new GraftProcedure("drop_branch",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("dropped", BooleanType),
          StructField("files_archived", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val n = GraftMaintenance.dropBranch(p, in.getString(1))
          Seq(new GenericInternalRow(Array[Any](n >= 0, math.max(n, 0))))
        })
      case "branches" => new GraftProcedure("branches",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(StructField("name", StringType),
          StructField("head", LongType),
          StructField("base", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          GraftTableLog.branches(p).map { case (n, h, b) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(n), h, b))
          }
        })
      case "fast_forward" => new GraftProcedure("fast_forward",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("new_version", LongType),
          StructField("files_adopted", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val (v, n) = GraftMaintenance.fastForward(p, in.getString(1))
          Seq(new GenericInternalRow(Array[Any](v, n)))
        })
      // TABLE-LEVEL COLUMN STATISTICS ([[GraftAnalyze]]): one
      // distributed pass (NDV via HLL++, null counts, length moments
      // + exact row count), persisted as `_graft_colstats` and served
      // to the planner through DSv2 columnStats — CBO join estimation
      // sees real NDVs. Standard ANALYZE staleness semantics.
      case "analyze" => new GraftProcedure("analyze",
        Array(ProcedureParameter.in("table", StringType).build(),
          // comma-separated numeric columns to build EQUI-HEIGHT
          // histograms for (opt-in — costs a second aggregate pass;
          // the Spark ANALYZE ... FOR COLUMNS convention)
          ProcedureParameter.in("histogram_columns", StringType)
            .defaultValue("''").build(),
          ProcedureParameter.in("histogram_bins", IntegerType)
            .defaultValue("32").build(),
          // DECLARED COMPOSITE KEY SETS (round 14): semicolon-separated
          // sets of comma-separated columns ('a,b;x,y'). Each set gets
          // a TUPLE NDV sketch in the same pass, persisted and served
          // to join estimation by CompositeKeyJoinRule — the channel
          // per-column stats cannot express (correlated keys defeat
          // the NDV-product independence assumption).
          ProcedureParameter.in("key_sets", StringType)
            .defaultValue("''").build()),
        StructType(Seq(StructField("column", StringType),
          StructField("ndv", LongType),
          StructField("null_count", LongType),
          StructField("avg_len", LongType),
          StructField("max_len", LongType),
          StructField("histogram_bins", IntegerType),
          StructField("row_count", LongType),
          StructField("analyzed_version", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          val hcols =
            if (in.isNullAt(1)) Nil
            else in.getString(1).split(',').map(_.trim)
              .filter(_.nonEmpty).toSeq
          val keySets =
            if (in.isNullAt(3)) Nil
            else in.getString(3).split(';').map(_.trim).filter(_.nonEmpty)
              .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
              .toSeq
          val ts = GraftAnalyze.analyze(
            org.apache.spark.sql.SparkSession.active, p, hcols,
            if (in.isNullAt(2)) 32 else in.getInt(2), keySets)
          ts.cols.toSeq.sortBy(_._1).map { case (n, s) =>
            new GenericInternalRow(Array[Any](UTF8String.fromString(n),
              s.ndv, s.nullCount, s.avgLen.getOrElse(-1L),
              s.maxLen.getOrElse(-1L),
              ts.hists.get(n).map(_.bins.size).getOrElse(0),
              ts.rows, ts.version))
          } ++ ts.keyNdv.toSeq.sortBy(_._1.mkString(",")).map {
            case (ks, v) =>
              // key-set rows ride the same shape: column = the comma-
              // joined set, ndv = the TUPLE ndv, lengths/hist vacant
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(ks.mkString(",")), v, -1L, -1L,
                -1L, 0, ts.rows, ts.version))
          }
        })
      // CHECK CONSTRAINTS ([[GraftConstraints]]): add validates the
      // expression AND the existing rows (one scan, refused with the
      // violation count otherwise), then every write route enforces it
      // per row; drop removes it; constraints lists them.
      case "add_constraint" => new GraftProcedure("add_constraint",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build(),
          ProcedureParameter.in("expression", StringType).build()),
        StructType(Seq(StructField("name", StringType),
          StructField("rows_validated", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          val n = GraftConstraints.add(
            org.apache.spark.sql.SparkSession.active, p,
            in.getString(1), in.getString(2))
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(in.getString(1)), n)))
        })
      case "drop_constraint" => new GraftProcedure("drop_constraint",
        Array(ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("name", StringType).build()),
        StructType(Seq(StructField("dropped", StringType))),
        { in =>
          val p = tablePath(in.getString(0))
          GraftConstraints.drop(p, in.getString(1))
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(in.getString(1)))))
        })
      case "constraints" => new GraftProcedure("constraints",
        Array(ProcedureParameter.in("table", StringType).build()),
        StructType(Seq(StructField("name", StringType),
          StructField("expression", StringType))),
        { in =>
          val p = tablePath(in.getString(0))
          GraftConstraints.read(p).map { case (n, e) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(n), UTF8String.fromString(e)))
          }
        })
      // PER-FILE BLOOM SIDECARS for equality file-skipping on high-
      // cardinality unsorted columns ([[GraftBloom]]): one distributed
      // build pass, sidecars under `_graft_bloom/`, consumed
      // automatically by every later scan's planner. Returns one row
      // per column: how many live files got a sidecar and the total
      // sidecar bytes. Persists the column list as the table's bloom
      // DDL, so later connector WRITES maintain their own sidecars;
      // re-run only after compaction/row-level rewrites (uncovered
      // files are conservatively read, never wrongly skipped).
      case "build_bloom" => new GraftProcedure("build_bloom",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("columns", StringType).build(),
          ProcedureParameter.in("fpp", DoubleType)
            .defaultValue("0.01").build()),
        StructType(Seq(StructField("column", StringType),
          StructField("files_bloomed", IntegerType),
          StructField("sidecar_bytes", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          val cols = in.getString(1).split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq
          GraftBloom.build(org.apache.spark.sql.SparkSession.active, p,
            cols, in.getDouble(2)).map { case (c, n, bytes) =>
            new GenericInternalRow(Array[Any](
              UTF8String.fromString(c), n, bytes))
          }
        })
      // debris reclamation — see [[GraftMaintenance.removeOrphans]]:
      // crashed writers' staging trees and tmp sidecar drafts, aged
      // past the horizon; one row per reclaimed entry
      case "remove_orphan_files" => new GraftProcedure(
        "remove_orphan_files",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("older_than_hours", DoubleType)
            .defaultValue("24.0").build(),
          // dry_run => true reports without deleting (look first)
          ProcedureParameter.in("dry_run", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(StructField("kind", StringType),
          StructField("name", StringType),
          StructField("bytes", LongType))),
        { in =>
          val p = tablePath(in.getString(0))
          GraftMaintenance.removeOrphans(p, in.getDouble(1),
            in.getBoolean(2)).map {
            case (k, n, b) =>
              new GenericInternalRow(Array[Any](UTF8String.fromString(k),
                UTF8String.fromString(n), b))
          }
        })
      // incremental re-clustering — see [[GraftMaintenance.recluster]]:
      // rewrite ONLY the files appended since the last clustered
      // version, then re-pin the table's ordering claim (cost ∝ tail)
      case "recluster" => new GraftProcedure("recluster",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_file_bytes", LongType)
            .defaultValue((128L * 1024 * 1024).toString).build()),
        StructType(Seq(StructField("version", LongType),
          StructField("tail_files_rewritten", IntegerType))),
        { in =>
          val p = tablePath(in.getString(0))
          val (v, nTail) = GraftMaintenance.recluster(
            org.apache.spark.sql.SparkSession.active, p, in.getLong(1))
          Seq(new GenericInternalRow(Array[Any](v, nTail)))
        })
      // INCREMENTAL MATERIALIZED VIEWS ([[GraftMv]]) as SQL citizens:
      // define once, then refresh folds the source's change feed —
      // cost ∝ changed files, never the table. `aggs` is a
      // comma-separated `func:col:alias` list (count/sum/avg/min/max;
      // col `*` for row count). The view materializes as a graft table
      // at the view identifier's warehouse path; read its CURRENT
      // contents via `VERSION AS OF` the returned view_version (raw
      // head reads may see a crashed refresh's orphan — the recorded
      // version is the committed state).
      case "create_mv" => new GraftProcedure("create_mv",
        Array(
          ProcedureParameter.in("view", StringType).build(),
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("group_by", StringType).build(),
          ProcedureParameter.in("aggs", StringType).build(),
          // merge-mode state updates (GraftMv.create stateMerge):
          // upsert touched groups instead of overwriting the state
          ProcedureParameter.in("state_merge", BooleanType)
            .defaultValue("false").build()),
        StructType(Seq(StructField("view_version", LongType),
          StructField("source_version", LongType))),
        { in =>
          val vp = in.getString(0).split('.')
          val viewPath = pathOf(Identifier.of(vp.dropRight(1), vp.last))
          val srcPath = tablePath(in.getString(1))
          val groupCols = in.getString(2).split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq
          val aggs = in.getString(3).split(',').map(_.trim)
            .filter(_.nonEmpty).toSeq.map { s =>
              s.split(':') match {
                case Array(f, c, a) => MvAgg(f.trim, c.trim, a.trim)
                case _ => throw new IllegalArgumentException(
                  s"graft create_mv: agg '$s' must be func:col:alias")
              }
            }
          val v = GraftMv.create(
            org.apache.spark.sql.SparkSession.active,
            viewPath, srcPath, groupCols, aggs,
            stateMerge = in.getBoolean(4))
          val srcV = GraftMv.latestState(viewPath).map(_._2).getOrElse(-1L)
          Seq(new GenericInternalRow(Array[Any](v, srcV)))
        })
      case "drop_mv" => new GraftProcedure("drop_mv",
        Array(ProcedureParameter.in("view", StringType).build()),
        StructType(Seq(StructField("dropped", BooleanType))),
        { in =>
          val vp = in.getString(0).split('.')
          val viewPath = existing(Identifier.of(vp.dropRight(1), vp.last))
          GraftMv.drop(viewPath)
          Seq(new GenericInternalRow(Array[Any](true)))
        })
      case "refresh_mv" => new GraftProcedure("refresh_mv",
        Array(ProcedureParameter.in("view", StringType).build()),
        StructType(Seq(StructField("view_version", LongType),
          StructField("source_version", LongType))),
        { in =>
          val vp = in.getString(0).split('.')
          val viewPath = existing(Identifier.of(vp.dropRight(1), vp.last))
          val v = GraftMv.refresh(
            org.apache.spark.sql.SparkSession.active, viewPath)
          val srcV = GraftMv.latestState(viewPath).map(_._2).getOrElse(-1L)
          Seq(new GenericInternalRow(Array[Any](v, srcV)))
        })
      // partition-spec EVOLUTION — see
      // [[GraftCatalog.writePartSpecEvolved]]: the persisted spec
      // changes for FUTURE writes; existing files keep (and stay
      // prunable under) their own directory layout; compact migrates
      case "set_partition_spec" => new GraftProcedure(
        "set_partition_spec",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          // comma-separated column list; '' = unpartition future writes
          ProcedureParameter.in("partition_by", StringType).build()),
        StructType(Seq(StructField("previous_spec", StringType),
          StructField("new_spec", StringType))),
        { in =>
          val p = tablePath(in.getString(0))
          val cols = Option(in.getString(1)).map(_.trim)
            .filter(_.nonEmpty).toSeq
            .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
          val cur = GraftParquetV2.sparkSchema(
            GraftParquetV2.footerSchema(schemaFile(p)))
          if (cols.nonEmpty) {
            GraftParquetWrite.validatePartitionCols(cur, cols)
            require(cols.size < cur.size,
              "graft set_partition_spec: partitioning on EVERY column " +
                "leaves no data columns")
          }
          val prev = GraftCatalog.readPartSpec(p, conf)
          GraftCatalog.writePartSpecEvolved(p, cols, conf)
          // a schema carrier marks the DDL as a versioned commit —
          // auditable in t.history, and any stale ordering claim lapses
          GraftCatalog.commitSchemaCarrier(p, cur, conf)
          Seq(new GenericInternalRow(Array[Any](
            UTF8String.fromString(prev.mkString(",")),
            UTF8String.fromString(cols.mkString(",")))))
        })
      case other => throw new IllegalArgumentException(
        s"graft catalog: unknown procedure '$other' — " +
          "available: compact, vacuum, history, ann_probe, " +
          "rewrite_deletes, detail, rollback, tag, drop_tag, tags, " +
          "create_branch, drop_branch, branches, fast_forward, " +
          "build_bloom, analyze, add_constraint, drop_constraint, " +
          "constraints, remove_orphan_files, set_partition_spec, " +
          "recluster")
    }
  }
}

object GraftCatalog {
  /** Write a zero-row parquet whose footer carries `schema`, committed
    * as a new log version — the SCHEMA CARRIER that makes dataless DDL
    * (CREATE TABLE, ADD COLUMN, and MERGE schema evolution) possible
    * under schema-on-write: the newest-file inference reads the
    * carrier's footer, and the scan yields its zero rows for free. */
  def commitSchemaCarrier(p: String, schema: StructType,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val writeId = java.util.UUID.randomUUID().toString
    val carrier = new Path(p, f"part-00000-0-$writeId-schema.parquet")
    GraftParquetIO.writer(carrier, GraftParquetWrite.messageType(schema),
      conf).close() // zero rows: the footer schema is the payload
    GraftParquetWrite.commitMetadata(p,
      GraftParquetWrite.rawManifestEntries(p), writeId)
  }

  /** Table-root sidecar holding the CREATE TABLE … PARTITIONED BY
    * column list (one comma-separated line). Underscore-invisible to
    * the data lister; travels with RENAME, dies with DROP. The spec
    * lives with the TABLE, not the catalog — the write builder reads
    * it on the raw path-based route too, so a partitioned table keeps
    * its declared layout (and the contradiction guard) no matter how
    * it is addressed. */
  val PartSpecFile = "_graft_partition_spec"

  /** The table's EFFECTIVE partition columns for any rewrite or
    * maintenance write: the persisted DDL spec WINS — partition-spec
    * EVOLUTION can make the observed directory layout stale, and a
    * rewrite that routed by the old observed layout would contradict
    * the declared one (the write builder's guard would refuse it). A
    * spec-less table falls back to its observed uniform layout; flat
    * or mixed tables write flat. */
  def effectivePartCols(path: String,
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    val spec = readPartSpec(path, GraftParquetWrite.sessionConf())
    if (spec.nonEmpty) spec
    else GraftParquetV2.keyedLayout(path, schema).map(_._1).getOrElse(Nil)
  }

  /** Partition-spec EVOLUTION (`CALL system.set_partition_spec`): swap
    * the persisted spec sidecar for FUTURE writes. Existing files keep
    * their directory layout — per-file pruning reads each file's OWN
    * `col=value` path, so old-spec files stay exactly as prunable as
    * they were (the Iceberg per-file-spec model, directory-encoded);
    * `keyedLayout` degrades to None on the mixed table, lapsing the
    * keyed-partitioning/ordering claims conservatively. A later
    * `compact` migrates everything to the new layout (its write routes
    * by [[effectivePartCols]] = the new spec). Empty cols = the table
    * becomes unpartitioned for future writes. Single-writer DDL, like
    * every other metadata mutation: the in-JVM spec cache invalidates
    * here; a cross-JVM writer converges at its next cache miss. */
  def writePartSpecEvolved(p: String, cols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val f = new Path(p, PartSpecFile)
    val fs = f.getFileSystem(conf)
    if (cols.isEmpty) fs.delete(f, false)
    else {
      val bytes = cols.mkString(",").getBytes("UTF-8")
      val tmp = new Path(p,
        s"_tmp_partspec-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(bytes)
      finally out.close()
      // Swap order matters: the OLD spec is only removed once the new
      // one is durably staged, and a failed rename falls back to a
      // direct overwrite-create so the table is never left spec-less
      // (delete-then-require(rename) could strand it unpartitioned).
      var done = fs.rename(tmp, f) // succeeds where rename-over works
      var attempts = 0
      while (!done && attempts < 3) {
        fs.delete(f, false)
        done = fs.rename(tmp, f)
        attempts += 1
      }
      if (!done) { // last resort: write the spec in place
        val o2 = fs.create(f, true)
        try o2.write(bytes)
        finally o2.close()
        fs.delete(tmp, false)
      }
      require(fs.exists(f),
        s"graft set_partition_spec: could not persist at $f")
    }
    invalidatePartSpec(p)
  }

  /** Table-root RENAME LEDGER: a DIRECTORY of one tiny file per
    * RENAME COLUMN (`r%06d.rename`, content `old\tnew`), ordered by
    * name — the whole column-mapping story, with the same
    * exclusive-create discipline as every other metadata mutation in
    * the format: each rename CLAIMS its ordinal atomically, nothing is
    * ever rewritten in place, and a crash mid-rename leaves at worst
    * an unreferenced claim — never a truncated history (the
    * read-modify-overwrite it replaces could zero the ledger and
    * silently null-fill every pre-rename column). Data files keep the
    * physical name of their era; readers resolve through
    * [[readAliases]]. */
  val RenamesFile = "_graft_renames"

  /** Physical column names ANY live data file still carries — the
    * collision set for ADD/RENAME targets (footer reads, DDL-scale). */
  def livePhysicalNames(p: String): Set[String] =
    (try GraftParquetV2.listFiles(p) catch {
      case _: java.io.FileNotFoundException => Nil
    }).flatMap { f =>
      import scala.jdk.CollectionConverters._
      GraftParquetV2.footerSchema(f).getFields.asScala.map(_.getName)
    }.toSet

  /** Loud validation that `name` is ADDABLE to the table at `p` under
    * current schema `cur` — shared by ALTER TABLE ADD COLUMN and
    * [[GraftMaintenance.merge]]'s `mergeSchema=true` evolution, so the
    * two routes enforce identical field-identity guarantees:
    * case-insensitive uniqueness, reserved metadata names, and no
    * collision with a physical name some live file still carries
    * (values under that name would leak across field identities). */
  def checkAddableColumn(p: String, name: String,
      cur: StructType): Unit = {
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"graft catalog: column $name already exists (case-insensitive) " +
        s"in the table at $p")
    require(!GraftMeta.names(name),
      s"graft catalog: $name is a reserved metadata column name")
    require(!livePhysicalNames(p).contains(name),
      s"graft catalog: new column '$name' collides with a physical " +
        s"column some live data file of $p still carries — values under " +
        "that name would leak across field identities; compact the " +
        "table (rewriting files under current names) first")
  }

  private val aliasCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, Seq[String]]]()

  private[sources] def invalidateAliases(p: String): Unit =
    aliasCache.remove(p)

  /** Append one rename as its own EXCLUSIVELY-created ledger entry —
    * the atomic-claim discipline; a lost claim (concurrent DDL)
    * retries at the next ordinal. */
  def appendRename(p: String, from: String, to: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val dir = new Path(p, RenamesFile)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    var claimed = false
    var attempt = 0
    while (!claimed) {
      val n = fs.listStatus(dir).count(_.getPath.getName.endsWith(".rename"))
      val entry = new Path(dir, f"r$n%06d.rename")
      try {
        val out = GraftFsContract.exclusiveCreate(fs, entry) // the claim
        try out.write(s"$from\t$to\n".getBytes("UTF-8"))
        finally out.close()
        claimed = true
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > 20) throw new IllegalStateException(
            s"graft catalog: lost the rename-ledger claim 20 times " +
              s"under $p — giving up", e)
      }
    }
    invalidateAliases(p)
  }

  /** The ledger's rename lines in order (name-sorted entries). */
  private def renameLines(dir: Path,
      fs: org.apache.hadoop.fs.FileSystem): List[String] =
    fs.listStatus(dir).toList
      .filter(_.getPath.getName.endsWith(".rename"))
      .sortBy(_.getPath.getName)
      .flatMap { st =>
        val in = fs.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toList.filter(_.nonEmpty)
        finally in.close()
      }

  /** The table's ALIAS MAP: every name a column has EVER had → the
    * suffix of its physical-name chain from that name backwards,
    * newest-first — `a→b→c` yields `c→[c,b,a]`, `b→[b,a]`, `a→[a]`.
    * Readers resolve a (logical) requested name to the FIRST chain
    * name a file's footer carries; the suffix form keeps
    * `VERSION AS OF` era-correct (a version pinned in the `b` era
    * presents `b` and resolves `b` or `a`, never `c` — no post-era
    * file can be in its snapshot). Names with no rename history are
    * absent (identity resolution); the common no-renames table gets
    * an EMPTY map and every fast path is untouched. Cached per JVM,
    * invalidated by the catalog's own rename DDL. */
  def readAliases(p: String,
      conf: org.apache.hadoop.conf.Configuration): Map[String, Seq[String]] =
    aliasCache.computeIfAbsent(p, _ => {
      val f = new Path(p, RenamesFile)
      val fs = f.getFileSystem(conf)
      if (!fs.exists(f)) Map.empty
      else {
        val lines = renameLines(f, fs)
        // chains keyed by CURRENT name, newest-first
        val chains = collection.mutable.LinkedHashMap.empty[String, List[String]]
        lines.filter(_.nonEmpty).foreach { line =>
          val Array(from, to) = line.split('\t')
          val prior = chains.remove(from).getOrElse(List(from))
          chains(to) = to :: prior
        }
        // every suffix is addressable (mid-era names for time travel)
        chains.values.flatMap { chain =>
          chain.tails.filter(_.nonEmpty).map(t => t.head -> t.toSeq)
        }.toMap
      }
    })

  /** Per-JVM cache of the persisted partition spec, keyed by table
    * root. The spec is a DDL-TIME CONSTANT — written exactly once by
    * CREATE TABLE (exclusive create, before any data can land) and
    * never mutated — so caching it is semantics-free within a JVM;
    * the catalog's own CREATE/DROP/RENAME invalidate their paths
    * (covering the one legal re-create-after-drop sequence). A
    * cross-JVM writer re-creating a dropped table at the same path is
    * outside the cache's view — the same single-writer discipline the
    * overwrite protocol already assumes. */
  private val partSpecCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[sources] def invalidatePartSpec(p: String): Unit =
    partSpecCache.remove(p)

  /** The persisted partition spec of the table at `p`; Nil when
    * unpartitioned (no sidecar). Cached per JVM (see above) — every
    * write route consults it, and at one filesystem round-trip per
    * write the lookups were measurable in write-heavy queries. */
  def readPartSpec(p: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    partSpecCache.computeIfAbsent(p, _ => {
      val f = new Path(p, PartSpecFile)
      val fs = f.getFileSystem(conf)
      if (!fs.exists(f)) Nil
      else {
        val in = fs.open(f)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .split(',').map(_.trim).filter(_.nonEmpty).toSeq
        finally in.close()
      }
    })
}
