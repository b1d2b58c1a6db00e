package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, input_file_name}
import org.apache.spark.util.sketch.BloomFilter

/** PER-FILE BLOOM-FILTER SIDECARS — the file-skipping index for
  * equality predicates that zone maps cannot serve. A range-clustered
  * column prunes point lookups through min/max zone maps; a HIGH-
  * CARDINALITY column in UNSORTED files does not (every file's range
  * spans the domain), yet `key = v` / `key IN (…)` — including the
  * In-lists dynamic partition pruning derives from a join's build
  * side — is exactly the lookup shape a 100 TB event/entity table
  * serves all day. The Iceberg/Delta answer is a per-file membership
  * sketch; this is that, as one sidecar per (data file, column) under
  * `_graft_bloom/<basename>.<column>.bloom` (underscore-prefixed —
  * invisible to live scans, like the log and the DV sidecars).
  *
  * Soundness: a Bloom filter has NO false negatives, so
  * `mightContain = false` for every probed value PROVES the file holds
  * none of them — the only thing a skip requires. False positives cost
  * a wasted read, never a wrong row (deleted-but-still-hashed values
  * likewise: the read re-filters). Files without a sidecar (written
  * before the first build, or carrying a renamed column) are
  * conservatively read — the same metadata-may-lag model as the
  * zone-map manifest, repaired by re-running `build_bloom`.
  * Writes DON'T decay coverage: `build` persists its column list +
  * fpp as `_graft_bloom_spec` (the root-sidecar-is-the-DDL
  * convention), and every later connector write — batch append,
  * INSERT INTO, streaming epoch, compaction's packed files, COW
  * rewrites, MOR update images — emits exact-size sidecars for its
  * own staged files task-side ([[buildForStaged]]).
  *
  * Scale posture: the build is ONE distributed pass (values stream
  * into per-file filters inside each task; sidecars are written from
  * the executors — the driver never holds a filter), and the planner
  * probes sidecars ONLY for files that already survived zone-map
  * refutation, under an in-JVM cache — at 100 TB the probe cost is
  * O(candidate files that zone maps could not kill), not O(files). */
object GraftBloom {

  val BloomDir = "_graft_bloom"

  /** Planner refusal cap: an In-list longer than this skips bloom
    * probing (O(files × values) driver work bounds itself out). */
  val MaxProbeValues = 1024

  // driver-side sidecar I/O sees the session's spark.hadoop.* settings
  // (S3 credentials, custom filesystems) — the write path's convention
  private def conf: Configuration = GraftParquetWrite.sessionConf()

  private def dir(table: String) = new Path(table, BloomDir)

  private def sidecar(table: String, basename: String, column: String) =
    new Path(dir(table), s"$basename.$column.bloom")

  /** Column types a sidecar serves: integrals hash via putLong, strings
    * via putString — the probe side dispatches identically. */
  private[sources] def bloomable(dt: org.apache.spark.sql.types.DataType)
      : Boolean = dt match {
    case org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.StringType => true
    case _ => false
  }

  /** BUILD: one distributed pass over the live data files; per (file,
    * column) filter sized by the file's manifest row count; sidecars
    * written task-side (tmp + rename — a task retry rewrites the same
    * content). Renamed columns resolve through the alias chains the
    * catalog already maintains (each file's era-name coalesces into
    * the logical column), and sidecars are keyed by the CURRENT
    * logical name — after a later rename, probes miss and scans stay
    * conservative until a rebuild. Orphaned sidecars (their data file
    * left the live set) are reaped up front. Returns
    * (column → (files bloomed, total sidecar bytes)). */
  def build(spark: SparkSession, table: String, columns: Seq[String],
      fpp: Double = 0.01, persist: Boolean = true): Seq[(String, Int, Long)] = {
    require(columns.nonEmpty, "graft build_bloom: no columns given")
    require(fpp > 0 && fpp < 1,
      s"graft build_bloom: fpp must be in (0,1), got $fpp")
    columns.foreach(c => require(c.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"graft build_bloom: invalid column name '$c'"))
    val schema = spark.read.format("graft.sources.GraftParquetTableProvider")
      .option("path", table).load().schema
    val aliases = GraftCatalog.readAliases(table, conf)
    columns.foreach { c =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"graft build_bloom: column '$c' not in table schema " +
            schema.fieldNames.mkString("[", ", ", "]")))
      require(bloomable(f.dataType),
        s"graft build_bloom: column '$c' has type ${f.dataType.sql} — " +
          "only integral and string columns take a bloom sidecar")
    }
    val exactNames = columns.map(c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).get.name)
    // persist the column list + fpp as the table's bloom DDL: every
    // later connector write maintains sidecars for its own new files
    if (persist) writeSpec(table, exactNames, fpp)
    val files = try GraftParquetV2.listFiles(table) catch {
      case _: java.io.FileNotFoundException => Nil
    }
    val fs = dir(table).getFileSystem(conf)
    // reap orphans: sidecars whose data file left the live set
    if (fs.exists(dir(table))) {
      val liveBase = files.map(f => new Path(f).getName).toSet
      fs.listStatus(dir(table)).foreach { st =>
        val n = st.getPath.getName
        if (n.endsWith(".bloom") &&
            !liveBase.contains(n.split("\\.parquet\\.").head + ".parquet"))
          fs.delete(st.getPath, false)
      }
    }
    if (files.isEmpty) return columns.map(c => (c, 0, 0L))
    // per-file row counts from the manifest (sizing the filters);
    // unmanifested files size at the default
    val rowCounts: Map[String, Long] = GraftParquetWrite
      .rawManifestEntries(table)
      .groupBy(_.file).map { case (f, es) =>
        f -> es.map(_.valueCount).max
      }
    val dirStr = dir(table).toString
    val exact = exactNames
    // one read of every live file; each logical column coalesces over
    // its alias chain so renamed eras contribute under the current name.
    // The read runs in a CHILD session whose split sizing guarantees
    // ONE WHOLE FILE PER SPLIT (maxPartitionBytes huge so no file is
    // ever cut, openCostInBytes huge so no two files pack together):
    // a file split across tasks would otherwise yield two sidecars
    // racing a rename, the survivor having hashed only ITS split's
    // values — a PARTIAL filter whose false negatives wrongly skip the
    // file. One-file-one-task also gives the build per-file parallelism
    // for free. The child session shares the SparkContext (and the
    // builder-time confs — shuffle partitions etc.) but not the two
    // split knobs, which stay untouched for concurrent queries.
    val buildSession = spark.newSession()
    buildSession.conf.set("spark.sql.files.maxPartitionBytes",
      (1L << 42).toString) // 4 TiB — beyond any sane single file
    buildSession.conf.set("spark.sql.files.openCostInBytes",
      (1L << 42).toString)
    val shippedConf = GraftSerConf.session()
    val raw = buildSession.read.option("mergeSchema", "true")
      .parquet(files: _*)
    val rawCols = raw.schema.fieldNames.toSet
    val selected = exact.map { c =>
      val chain = aliases.getOrElse(c, Seq(c)).filter(rawCols.contains)
      require(chain.nonEmpty,
        s"graft build_bloom: column '$c' absent from every live file")
      coalesce(chain.map(col): _*).as(c)
    }
    import buildSession.implicits._
    val written = raw
      .select(input_file_name().as("_graft_file") +: selected: _*)
      .mapPartitions { it =>
        // executor-local: stream rows into per-(file,column) filters;
        // sidecar I/O uses the SHIPPED session conf — a bare task-side
        // Configuration would drop spark.hadoop.* (object-store
        // credentials, custom filesystems)
        val taskConf = shippedConf.value
        val blooms = collection.mutable
          .Map.empty[(String, String), BloomFilter]
        val nCols = exact.length
        it.foreach { row =>
          val base = new Path(row.getString(0)).getName
          var i = 0
          while (i < nCols) {
            if (!row.isNullAt(i + 1)) {
              val bf = blooms.getOrElseUpdate((base, exact(i)), {
                BloomFilter.create(
                  math.max(rowCounts.getOrElse(base, 100000L), 64L), fpp)
              })
              row.get(i + 1) match {
                case n: Byte => bf.putLong(n.toLong)
                case n: Short => bf.putLong(n.toLong)
                case n: Int => bf.putLong(n.toLong)
                case n: Long => bf.putLong(n)
                case s: String => bf.putString(s)
                case other => throw new IllegalStateException(
                  s"graft build_bloom: unhashable value class " +
                    other.getClass.getName)
              }
            }
            i += 1
          }
        }
        val tfs = new Path(dirStr).getFileSystem(taskConf)
        tfs.mkdirs(new Path(dirStr))
        blooms.iterator.map { case ((base, c), bf) =>
          val tmp = new Path(dirStr,
            s"_tmp-${java.util.UUID.randomUUID()}.bloom")
          val out = tfs.create(tmp, true)
          try bf.writeTo(out) finally out.close()
          val fin = new Path(dirStr, s"$base.$c.bloom")
          tfs.delete(fin, false)
          if (!tfs.rename(tmp, fin)) tfs.delete(tmp, false)
          (c, base, tfs.getFileStatus(fin).getLen)
        }
      }.collect() // (column, basename, bytes) — one row per sidecar
    cache.synchronized(cache.clear()) // fresh sidecars invalidate probes
    // Backstop only — the build session's split sizing above makes a
    // multi-split file impossible, so a dup here means the sizing
    // contract broke. Crucially the cleanup runs BEFORE the throw:
    // every sidecar THIS build renamed in is deleted, so no partial
    // filter (hashed from one split's values — false negatives, wrong
    // skips) can survive the failure as live metadata.
    val dup = written.groupBy(w => (w._1, w._2)).find(_._2.length > 1)
    if (dup.isDefined) {
      written.foreach { case (c, base, _) =>
        fs.delete(sidecar(table, base, c), false)
      }
      cache.synchronized(cache.clear())
      throw new IllegalStateException(
        s"graft build_bloom: file ${dup.get._1._2} spanned multiple " +
          "tasks despite single-split sizing — all sidecars from this " +
          "build were deleted (none partial survives); affected files " +
          "fall back to conservative reads until a rebuild")
    }
    exact.map { c =>
      val mine = written.filter(_._1 == c)
      (c, mine.length, mine.map(_._3).sum)
    }
  }

  // probe-side sidecar cache: path → Some(filter) | None (no sidecar).
  // Bounded LRU; build() clears it. Sidecar content is immutable for a
  // given basename (rebuilds follow a reap or a new fpp — both clear
  // in-JVM; cross-JVM readers converge at their next cache miss).
  private val cache = new java.util.LinkedHashMap[
      String, Option[BloomFilter]](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Option[BloomFilter]]): Boolean =
      size() > 1024
  }

  private def load(table: String, basename: String, column: String)
      : Option[BloomFilter] = {
    val p = sidecar(table, basename, column)
    val key = p.toString
    cache.synchronized(Option(cache.get(key))) match {
      case Some(hit) => hit
      case None =>
        val fs = p.getFileSystem(conf)
        val loaded =
          if (!fs.exists(p)) None
          else {
            val in = fs.open(p)
            try Some(BloomFilter.readFrom(in)) finally in.close()
          }
        cache.synchronized(cache.put(key, loaded))
        loaded
    }
  }

  private def mightContain(bf: BloomFilter, v: Any): Boolean = v match {
    case n: Byte => bf.mightContainLong(n.toLong)
    case n: Short => bf.mightContainLong(n.toLong)
    case n: Int => bf.mightContainLong(n.toLong)
    case n: Long => bf.mightContainLong(n)
    case s: String => bf.mightContainString(s)
    case u: org.apache.spark.unsafe.types.UTF8String =>
      bf.mightContainString(u.toString)
    case _ => true // unknown representation: cannot refute
  }

  /** The planner's probe set: equality-shaped predicates from the
    * pushed + runtime conjunction. Null-valued equalities never match
    * rows, and an In's null element only matters for rows the filter
    * drops anyway — so non-null values are the exact probe set. */
  private[sources] def probes(filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[(String, Seq[Any])] = filters.collect {
    case org.apache.spark.sql.sources.EqualTo(a, v) if v != null =>
      a -> Seq(v)
    case org.apache.spark.sql.sources.EqualNullSafe(a, v) if v != null =>
      a -> Seq(v)
    case org.apache.spark.sql.sources.In(a, vs)
        if vs.nonEmpty && vs.exists(_ != null) &&
          vs.count(_ != null) <= MaxProbeValues =>
      a -> vs.filter(_ != null).toSeq
  }

  /** True when the sidecars PROVE `basename` holds none of some
    * predicate's probe values — the file is skipped. Missing sidecar →
    * cannot refute → read. */
  def refutes(table: String, basename: String,
      probeSet: Seq[(String, Seq[Any])]): Boolean =
    probeSet.exists { case (column, values) =>
      load(table, basename, column).exists { bf =>
        values.forall(v => !mightContain(bf, v))
      }
    }

  /** Plan-time gate: Some(probe set) only when the table has a bloom
    * directory AND the conjunction carries equality-shaped predicates —
    * everything else pays zero sidecar I/O. */
  def plannerProbes(table: String,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : Option[Seq[(String, Seq[Any])]] = {
    val ps = probes(filters)
    if (ps.isEmpty) None
    else if (!dir(table).getFileSystem(conf).exists(dir(table))) None
    else Some(ps)
  }

  // ——— WRITE-TIME MAINTENANCE ———
  //
  // `build` persists its column list + fpp as `_graft_bloom_spec` (the
  // same root-sidecar-is-the-DDL convention as PARTITIONED BY); every
  // later connector write — batch append, INSERT INTO, streaming epoch,
  // overwrite — reads the spec at plan time and each TASK emits exact-
  // size sidecars for its own staged files, so point-lookup coverage
  // never decays and "rebuild after append" disappears. Paths that
  // bypass the task writer (COW/MOR rewrites, compaction) leave their
  // new files uncovered-but-conservative until the next build.

  val SpecFile = "_graft_bloom_spec"

  // per-table spec cache (the readPartSpec convention): one tiny read
  // per JVM, invalidated by writeSpec; a cross-JVM spec change is seen
  // at the next cache miss, and a stale None only costs coverage,
  // never correctness
  private val specCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[(Seq[String], Double)]]()

  def writeSpec(table: String, cols: Seq[String], fpp: Double): Unit = {
    val f = new Path(table, SpecFile)
    val fs = f.getFileSystem(conf)
    val tmp = new Path(table,
      s"_tmp_bloom_spec-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(s"$fpp\t${cols.mkString(",")}".getBytes("UTF-8"))
    finally out.close()
    fs.delete(f, false)
    require(fs.rename(tmp, f),
      s"graft build_bloom: could not persist spec at $f")
    specCache.put(table, Some((cols, fpp)))
  }

  def readSpec(table: String): Option[(Seq[String], Double)] =
    specCache.computeIfAbsent(table, t => {
      val f = new Path(t, SpecFile)
      val fs = f.getFileSystem(conf)
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        val cut = line.indexOf('\t')
        Some((line.substring(cut + 1).split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq, line.substring(0, cut).toDouble))
      }
    })

  /** Exact-size sidecars for one just-written STAGED file — task-side,
    * page-cache warm (the read-back-rides-the-write pattern the stats
    * manifest already uses). Reads ONLY the spec columns the file's
    * footer actually carries as integral/string primitives; sidecars
    * land at their FINAL `_graft_bloom/` location keyed by the staged
    * basename (unique table-wide, preserved by the commit rename).
    * Returns the written sidecar paths so the writer's abort can
    * delete them; an abandoned sidecar is an orphan the next build
    * reaps, never a wrong skip. */
  def buildForStaged(taskConf: Configuration, staged: Path,
      table: String, cols: Seq[String], fpp: Double): Seq[Path] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType,
      PrimitiveType}
    val in = GraftParquetIO.open(staged, taskConf)
    try {
      val fileSchema = in.getFooter.getFileMetaData.getSchema
      def primName(c: String) = fileSchema
        .getType(fileSchema.getFieldIndex(c)).asPrimitiveType()
      val present = cols.filter { c =>
        fileSchema.containsField(c) &&
          fileSchema.getType(fileSchema.getFieldIndex(c)).isPrimitive && {
            val p = primName(c)
            p.getPrimitiveTypeName match {
              case PrimitiveType.PrimitiveTypeName.INT32 |
                   PrimitiveType.PrimitiveTypeName.INT64 => true
              case PrimitiveType.PrimitiveTypeName.BINARY =>
                p.getLogicalTypeAnnotation.isInstanceOf[
                  LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              case _ => false
            }
          }
      }
      val rows = in.getRecordCount
      if (present.isEmpty || rows == 0L) return Nil
      val proj = new MessageType(fileSchema.getName,
        present.map(n =>
          fileSchema.getType(fileSchema.getFieldIndex(n))): _*)
      val kinds: Array[PrimitiveType.PrimitiveTypeName] =
        present.map(primName(_).getPrimitiveTypeName).toArray
      val filters = present.map(_ =>
        BloomFilter.create(math.max(rows, 64L), fpp)).toArray
      in.setRequestedSchema(proj)
      val columnIO =
        new org.apache.parquet.io.ColumnIOFactory().getColumnIO(proj)
      var pages = in.readNextRowGroup()
      while (pages != null) {
        val rr = columnIO.getRecordReader(pages,
          new org.apache.parquet.example.data.simple.convert
            .GroupRecordConverter(proj))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = rr.read()
          var c = 0
          while (c < kinds.length) {
            if (g.getFieldRepetitionCount(c) > 0) kinds(c) match {
              case PrimitiveType.PrimitiveTypeName.INT32 =>
                filters(c).putLong(g.getInteger(c, 0).toLong)
              case PrimitiveType.PrimitiveTypeName.INT64 =>
                filters(c).putLong(g.getLong(c, 0))
              case _ => filters(c).putString(g.getString(c, 0))
            }
            c += 1
          }
          i += 1
        }
        pages = in.readNextRowGroup()
      }
      val tfs = dir(table).getFileSystem(taskConf)
      tfs.mkdirs(dir(table))
      val base = staged.getName
      present.zipWithIndex.map { case (c, ci) =>
        val tmp = new Path(dir(table),
          s"_tmp-${java.util.UUID.randomUUID()}.bloom")
        val out = tfs.create(tmp, true)
        try filters(ci).writeTo(out) finally out.close()
        val fin = sidecar(table, base, c)
        tfs.delete(fin, false)
        require(tfs.rename(tmp, fin),
          s"graft bloom write-time: rename failed for $fin")
        fin
      }
    } finally in.close()
  }
}
