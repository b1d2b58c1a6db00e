package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One aggregate of a materialized-view definition. `func` is one of
  * `count` / `sum` / `avg` / `min` / `max` / `hll` (approximate
  * distinct count — HyperLogLog sketch state, served as the estimate);
  * `col` is a source column (`*` allowed for `count`); `alias` names
  * the output column. */
final case class MvAgg(func: String, col: String, alias: String)

/** INCREMENTALLY-MAINTAINED MATERIALIZED VIEWS over graft tables — the
  * 100 TB answer to "keep this aggregate current as the table mutates"
  * without re-reading the table per refresh.
  *
  * An MV is a grouped aggregation (`GROUP BY g₁..gₙ` with count / sum /
  * avg / min / max) over one graft source table. Its state is itself a
  * graft table (so it inherits time travel, the version log, and the
  * archive discipline), holding one row per live group with MERGEABLE
  * partial state: a per-group row count, decimal-exact sums with their
  * non-null counts (so an all-NULL group reads back NULL, not 0), and
  * min/max extrema.
  *
  * '''Refresh cost ∝ the delta, not the table.''' [[refresh]] pulls the
  * row-level change feed ([[GraftMaintenance.changeFeedRows]]) between
  * the last-processed source version and the head — cost proportional
  * to CHANGED FILES — and folds it into the state:
  *   - count / sum / avg fold arithmetically: insert images add,
  *     delete images subtract (an updated row is one of each);
  *   - hll sketches fold by register-wise max on insert-only groups —
  *     mergeability makes the folded state BIT-IDENTICAL to recompute;
  *   - min / max fold directly on insert-only groups (`least` /
  *     `greatest`); a group that saw any DELETE image is recomputed
  *     from the source head, SEMI-JOIN-pruned to exactly the affected
  *     group keys — deletes can evict an extremum, so per-group
  *     recompute is the honest fallback, and its cost is the affected
  *     groups' rows, not the table (zone maps + partition pruning
  *     apply to the semi-joined scan);
  *   - a rewrite that only repacks rows (compaction) yields an EMPTY
  *     feed, so the refresh is a watermark-only no-op.
  *
  * '''Crash safety / concurrency — the streaming-commit-log discipline,
  * lock-free.''' The MV's `_graft_mv/state.<seq>` files are the commit
  * points: each records `(source version processed, MV version holding
  * that state)` and is claimed by EXCLUSIVE CREATE of the next sequence
  * number (the same optimistic CAS as the table log's version claim —
  * `GraftTableLog.scala:127`). A refresh (a) reads the latest state,
  * (b) reads the MV AS OF the version that state names — never the raw
  * head — (c) folds the delta, overwrites the MV data, and only then
  * (d) claims the next state seq. A crash anywhere before (d) leaves an
  * orphaned MV version that NO reader ever serves ([[read]] pins
  * `versionAsOf` to the recorded state), and the next refresh redoes
  * the same delta idempotently from the durable watermark. Two
  * concurrent refreshers both commit data (the writer path serializes
  * physically on the table's rewrite lock) but exactly ONE wins the
  * state CAS; the loser's data version is orphaned-by-construction and
  * the loser returns the winner's state. No MV-level lock exists to
  * leak or age out.
  *
  * Scale notes: the state table is |groups|-sized, so the per-refresh
  * overwrite is group-cardinality work, not source-table work; the
  * delta aggregation shuffles one row per (changed row's group), and
  * the recompute semi-join broadcasts the (small) affected-key set.
  * Reference context: the reference re-reads whole tables per run
  * (`/root/reference/pipelines/total_distance.py:92-95`); this is the
  * standing-aggregate replacement.
  */
object GraftMv {

  private val MvDir = "_graft_mv"
  private val RowsCol = "_mv_rows"
  private val KeyCol = "_mv_key"
  private def conf = GraftParquetWrite.sessionConf()
  private val fmt = "graft.sources.GraftParquetTableProvider"

  /** How many vanished groups a merge-mode refresh will DELETE by key
    * list before falling back to a full state overwrite (the key list
    * is driver-collected). */
  private def mergeDeleteCap: Int =
    sys.props.get("graft.mv.mergeDeleteCap").map(_.toInt).getOrElse(10000)

  private def defPath(mv: String) = new Path(new Path(mv, MvDir), "def")
  private def statePath(mv: String, seq: Long) =
    new Path(new Path(mv, MvDir), f"state.$seq%010d")

  // -------------------------------------------------------------------
  // Definition + state persistence
  // -------------------------------------------------------------------

  /** Write-once view definition. Line-based (no escaping to get wrong):
    * `src=`, `group=`, then one `agg=` per aggregate. Column and alias
    * names are restricted to identifier characters at [[create]] so the
    * `:`/`,` separators can never collide with content. */
  private def writeDef(mv: String, src: String, groupCols: Seq[String],
      aggs: Seq[MvAgg], stateMerge: Boolean): Unit = {
    val p = defPath(mv)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException =>
          throw new IllegalStateException(
            s"graft mv: a view is already defined at $mv")
      }
    val body = (s"src=$src" +: s"group=${groupCols.mkString(",")}" +:
      s"statemode=${if (stateMerge) "merge" else "overwrite"}" +:
      aggs.map(a => s"agg=${a.func}:${a.col}:${a.alias}")).mkString("\n")
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** (source table, group cols, aggs, merge-mode?) of the view at `mv`. */
  def readDef(mv: String): (String, Seq[String], Seq[MvAgg], Boolean) = {
    val p = defPath(mv)
    val fs = p.getFileSystem(conf)
    val body =
      try {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](4096)
          var n = in.read(chunk)
          while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"graft mv: no view defined at $mv")
      }
    val lines = body.split('\n').filter(_.nonEmpty)
    val src = lines.collectFirst { case l if l.startsWith("src=") =>
      l.stripPrefix("src=") }.getOrElse(
      throw new IllegalStateException(s"graft mv: torn definition at $mv"))
    val group = lines.collectFirst { case l if l.startsWith("group=") =>
      l.stripPrefix("group=").split(',').toSeq }.getOrElse(
      throw new IllegalStateException(s"graft mv: torn definition at $mv"))
    val aggs = lines.toSeq.filter(_.startsWith("agg=")).map { l =>
      l.stripPrefix("agg=").split(':') match {
        case Array(f, c, a) => MvAgg(f, c, a)
        case _ => throw new IllegalStateException(
          s"graft mv: torn definition at $mv")
      }
    }
    val merge = lines.exists(_ == "statemode=merge")
    (src, group, aggs, merge)
  }

  /** Latest committed (seq, source version, MV version), or None when
    * creation never completed. Torn bodies (a crashed claimer) are
    * skipped — the highest PARSEABLE seq is the committed state, same
    * as the table log's torn-snapshot rule. */
  def latestState(mv: String): Option[(Long, Long, Long)] = {
    val dir = new Path(mv, MvDir)
    val fs = dir.getFileSystem(conf)
    val seqs =
      try fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("state."))
        .flatMap(n => scala.util.Try(n.stripPrefix("state.").toLong).toOption)
        .sorted.reverse
      catch { case _: java.io.FileNotFoundException => Nil }
    seqs.iterator.flatMap { seq =>
      val body =
        try Some(GraftFsContract.readBody(fs, statePath(mv, seq)))
        catch { case _: java.io.IOException => None }
      body.map(_.split('\n')).collect {
        case Array(s, m) if s.forall(_.isDigit) && m.forall(_.isDigit) =>
          (seq, s.toLong, m.toLong)
      }
    }.nextOption()
  }

  /** Claim state `seq` by exclusive create. False = CAS lost (another
    * refresher committed first); environmental IO failures surface with
    * their own diagnostic (the casBranchHead disambiguation rule). */
  private def claimState(mv: String, seq: Long, srcV: Long,
      mvV: Long): Boolean = {
    val p = statePath(mv, seq)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out =
      try GraftFsContract.exclusiveCreate(fs, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          return false
        case e: java.io.IOException =>
          if (try fs.exists(p) catch { case _: Exception => false })
            return false
          else throw e
      }
    try out.write(s"$srcV\n$mvV".getBytes("UTF-8")) finally out.close()
    true
  }

  // -------------------------------------------------------------------
  // Aggregate state algebra
  // -------------------------------------------------------------------

  private def isFractional(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Decimal accumulator type for a sum/avg over `col` — exact and
    * order-independent (the q1 discipline), scale 6 for fractional
    * inputs (≫ the 2-dp money columns' grain), 0 for integral. */
  private def sumType(schema: StructType, c: String): DecimalType =
    schema(c).dataType match {
      case d: DecimalType => DecimalType(38, d.scale)
      case dt if isFractional(dt) => DecimalType(38, 6)
      case _ => DecimalType(38, 0)
    }

  /** Register-count exponent for `hll` MV state: m = 2^10 = 1024
    * registers per group (~3.3% relative error), the engine's standard
    * oracle-replayable grain (`TextQueries.HllP`). The hash chain is
    * the pinned mirrorable one — FNV-1a64 of the value CAST TO STRING,
    * SplitMix64-finalized inside the sketch — so a DuckDB oracle
    * rebuilds the registers bit-for-bit. */
  val HllStateP = 10

  /** The pinned hll hash chain. String cast first: the sketch hashes
    * the value's canonical decimal/text form, which both engines spell
    * identically for strings and integers (fractional columns are the
    * entry author's cross-engine concern). */
  private def hllHash(c: String): Column =
    graft.expr.Fingerprint64(col(c).cast("string"))

  /** Full-recompute state aggregation — the create path, the
    * affected-group rebuild path, and the parity check in specs all
    * share this one definition. */
  private def stateAggs(schema: StructType, aggs: Seq[MvAgg]): Seq[Column] =
    count(lit(1)).as(RowsCol) +: aggs.flatMap { a =>
      a.func match {
        case "count" =>
          val c = if (a.col == "*") count(lit(1)) else count(col(a.col))
          Seq(c.as(a.alias))
        case "sum" =>
          val t = sumType(schema, a.col)
          Seq(sum(col(a.col).cast(t)).as(a.alias),
            count(col(a.col)).as(a.alias + "__cnt"))
        case "avg" =>
          val t = sumType(schema, a.col)
          Seq(sum(col(a.col).cast(t)).as(a.alias + "__sum"),
            count(col(a.col)).as(a.alias + "__cnt"))
        case "min" => Seq(min(col(a.col)).as(a.alias))
        case "max" => Seq(max(col(a.col)).as(a.alias))
        case "hll" =>
          Seq(graft.expr.HllAgg.sketch(hllHash(a.col), HllStateP)
            .as(a.alias))
      }
    }

  private def fullState(df: DataFrame, groupCols: Seq[String],
      aggs: Seq[MvAgg]): DataFrame = {
    val as = stateAggs(df.schema, aggs)
    df.groupBy(groupCols.map(col): _*).agg(as.head, as.tail: _*)
  }

  /** Aggregates whose state cannot un-see a deleted row (extrema and
    * register-max sketches): any DELETE image sends the touched groups
    * to the pruned rebuild-from-head path. */
  private def rebuildsOnDelete(aggs: Seq[MvAgg]): Boolean =
    aggs.exists(a => a.func == "min" || a.func == "max" || a.func == "hll")

  /** Delta aggregation over change-feed images: one output row per
    * touched group, carrying signed arithmetic deltas and the
    * insert-side extrema + a saw-a-delete flag for the min/max rule. */
  private def deltaAggs(schema: StructType, aggs: Seq[MvAgg]): Seq[Column] = {
    val ins = col("_change_type") === lit("insert")
    val sgn = when(ins, lit(1L)).otherwise(lit(-1L))
    Seq(
      sum(sgn).as(RowsCol),
      max(when(!ins, lit(1)).otherwise(lit(0))).as("_mv_del")) ++
      aggs.flatMap { a =>
        a.func match {
          case "count" =>
            val contrib = if (a.col == "*") sgn
              else when(col(a.col).isNotNull, sgn).otherwise(lit(0L))
            Seq(sum(contrib).as(a.alias))
          case "sum" =>
            val t = sumType(schema, a.col)
            // cast FIRST, negate the decimal (exact) — never negate the
            // double before rounding into the accumulator's grid
            val v = col(a.col).cast(t)
            Seq(sum(when(ins, v).otherwise(-v)).as(a.alias),
              sum(when(col(a.col).isNotNull, sgn).otherwise(lit(0L)))
                .as(a.alias + "__cnt"))
          case "avg" =>
            val t = sumType(schema, a.col)
            val v = col(a.col).cast(t)
            Seq(sum(when(ins, v).otherwise(-v)).as(a.alias + "__sum"),
              sum(when(col(a.col).isNotNull, sgn).otherwise(lit(0L)))
                .as(a.alias + "__cnt"))
          case "min" => Seq(min(when(ins, col(a.col))).as(a.alias))
          case "max" => Seq(max(when(ins, col(a.col))).as(a.alias))
          // insert-image sketch only; delete-touched groups rebuild
          case "hll" =>
            Seq(graft.expr.HllAgg.sketch(
              when(ins, hllHash(a.col)), HllStateP).as(a.alias))
        }
      }
  }

  /** The state-table column names, in schema order. */
  private def stateCols(aggs: Seq[MvAgg]): Seq[String] =
    RowsCol +: aggs.flatMap { a =>
      a.func match {
        case "sum" => Seq(a.alias, a.alias + "__cnt")
        case "avg" => Seq(a.alias + "__sum", a.alias + "__cnt")
        case _ => Seq(a.alias)
      }
    }

  /** Deterministic single-column group key for merge-mode state
    * upserts ([[GraftMaintenance.merge]] keys on ONE column): each
    * group value length-prefixed — unambiguous for any content, no
    * separator byte to collide with — with an explicit NULL marker. */
  private def keyExpr(groupCols: Seq[String]): Column =
    concat(groupCols.map { c =>
      val s = col(c).cast("string")
      when(s.isNull, lit("N")).otherwise(
        concat(lit("V"), length(s).cast("string"), lit(":"), s))
    }: _*)

  /** Merge-mode state lays out RANGE-CLUSTERED on the key so later
    * upserts' zone-map candidate selection prunes to the touched files
    * — unsorted state would make every file a merge candidate. File
    * count follows AQE's byte-sized shuffle targets (grows with state;
    * a tiny state correctly collapses to one file) unless
    * `graft.mv.statePartitions` pins an explicit count (specs pin it
    * to exercise multi-file pruning at fixture scale). */
  private def clustered(st: DataFrame, groupCols: Seq[String]): DataFrame = {
    val keyed = st.withColumn(KeyCol, keyExpr(groupCols))
    (sys.props.get("graft.mv.statePartitions").map(_.toInt) match {
      case Some(n) => keyed.repartitionByRange(n, col(KeyCol))
      case None => keyed.repartitionByRange(col(KeyCol))
    }).sortWithinPartitions(KeyCol)
  }

  // -------------------------------------------------------------------
  // API
  // -------------------------------------------------------------------

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Define + fully compute the view: one aggregation over the PINNED
    * current source version (so a concurrent append can never make the
    * recorded watermark claim rows it did not process). The definition
    * file's exclusive create is the creation commit point; a crash
    * before the first state record leaves a definition the next
    * [[refresh]] HEALS by full recompute. Returns the MV version
    * holding the initial state.
    *
    * `stateMerge = true` switches refresh to MERGE-mode state updates:
    * instead of overwriting the |groups|-sized state table per refresh,
    * touched groups upsert by a synthetic length-prefixed key column
    * and vanished groups delete by key — state-write cost ∝ TOUCHED
    * groups, the high-cardinality-MV regime (a 100M-group state must
    * not rewrite per refresh). Requires head == recorded version at
    * entry (any crashed refresh's orphan commit heals via one full
    * overwrite first); falls back to overwrite when the vanished-key
    * list exceeds `graft.mv.mergeDeleteCap`. */
  def create(spark: SparkSession, mv: String, src: String,
      groupCols: Seq[String], aggs: Seq[MvAgg],
      stateMerge: Boolean = false): Long = {
    require(groupCols.nonEmpty, "graft mv: at least one group column")
    require(aggs.nonEmpty, "graft mv: at least one aggregate")
    val srcV = GraftTableLog.latestVersion(src).getOrElse(
      throw new IllegalArgumentException(
        s"graft mv: source $src is not a committed graft table"))
    val schema = spark.read.format(fmt).option("path", src).load().schema
    val names = schema.fieldNames.toSet
    groupCols.foreach(c => require(names.contains(c),
      s"graft mv: group column '$c' not in source schema"))
    aggs.foreach { a =>
      require(Set("count", "sum", "avg", "min", "max", "hll")(a.func),
        s"graft mv: unsupported aggregate '${a.func}' " +
          "(count/sum/avg/min/max/hll)")
      require(a.col == "*" || names.contains(a.col),
        s"graft mv: aggregate column '${a.col}' not in source schema")
      require(a.col == "*" || Ident.pattern.matcher(a.col).matches(),
        s"graft mv: aggregate column '${a.col}' must be a plain identifier")
      require(Ident.pattern.matcher(a.alias).matches(),
        s"graft mv: alias '${a.alias}' must be a plain identifier")
      if (a.func == "sum" || a.func == "avg")
        require(schema(a.col).dataType.isInstanceOf[NumericType],
          s"graft mv: ${a.func}(${a.col}) needs a numeric column")
      if (a.func == "hll")
        require(a.col != "*",
          s"graft mv: hll needs a concrete column, not '*'")
    }
    val aliases = aggs.map(_.alias)
    require(aliases.distinct == aliases &&
        aliases.forall(a => !groupCols.contains(a) && a != RowsCol &&
          a != KeyCol && !a.contains("__")),
      "graft mv: aliases must be unique, distinct from group columns, " +
        s"not '$RowsCol'/'$KeyCol', and free of '__' (reserved)")
    writeDef(mv, src, groupCols, aggs, stateMerge)
    healToState(spark, mv, src, groupCols, aggs, srcV, stateMerge)
  }

  /** Full recompute of source version `srcV` committed as MV data + a
    * state record — create's body and refresh's heal path. */
  private def healToState(spark: SparkSession, mv: String, src: String,
      groupCols: Seq[String], aggs: Seq[MvAgg], srcV: Long,
      withKey: Boolean): Long = {
    val base = spark.read.format(fmt).option("path", src)
      .option("versionAsOf", srcV.toString).load()
    val st = fullState(base, groupCols, aggs)
    (if (withKey) clustered(st, groupCols) else st)
      .write.format(fmt).option("path", mv)
      .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    val mvV = GraftTableLog.latestVersion(mv).getOrElse(
      throw new IllegalStateException(
        s"graft mv: state overwrite committed but no log under $mv"))
    val seq = latestState(mv).map(_._1 + 1).getOrElse(0L)
    if (!claimState(mv, seq, srcV, mvV))
      // another creator/healer landed first; its state governs
      return latestState(mv).map(_._3).getOrElse(mvV)
    mvV
  }

  /** Fold source changes since the last refresh into the view. Returns
    * the MV version now holding the current state (unchanged when the
    * source head equals the watermark). Safe to call concurrently and
    * to re-run after any crash — see the class doc's commit protocol. */
  def refresh(spark: SparkSession, mv: String): Long = {
    val (src, groupCols, aggs, stateMerge) = readDef(mv)
    val srcHead = GraftTableLog.latestVersion(src).getOrElse(
      throw new IllegalStateException(
        s"graft mv: source $src of $mv has lost its version log"))
    val st = latestState(mv) match {
      case None =>
        // creation crashed between definition and first state record
        return healToState(spark, mv, src, groupCols, aggs, srcHead,
          stateMerge)
      case Some(s) => s
    }
    val (seq, srcV0, mvV0) = st
    if (srcHead == srcV0) return mvV0
    require(srcHead > srcV0,
      s"graft mv: source $src head $srcHead is BEHIND the processed " +
        s"watermark $srcV0 — the source was rolled back or vacuumed; " +
        "drop and re-create the view")
    val delta = GraftMaintenance.changeFeedRows(spark, src, srcV0, srcHead)
    val schema = spark.read.format(fmt).option("path", src).load().schema
    val das = deltaAggs(schema, aggs)
    // The delta AGGREGATE (touched-group-sized, ≪ the row-level feed) is
    // PERSISTED in every mode (r16 optimization round): the refresh has
    // up to four consumers of the feed — the emptiness check, the fold
    // plan's write, the rebuild-key broadcast, merge-mode's vanished
    // detection — and each used to re-run the change-feed multiset diff
    // (two exceptAll shuffles over row images) from scratch; measured at
    // sf0.1 that was 2 full feed executions per overwrite refresh and 3+
    // in merge mode. Aggregating FIRST also means the one feed execution
    // shuffles group-sized partials, not row images.
    val d = delta.groupBy(groupCols.map(col): _*).agg(das.head, das.tail: _*)
      .alias("d")
    d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // MERGE-MODE engine decision, made BEFORE the fold plan is built:
    // the merge mutates the RAW head, so it is only sound when the
    // head IS the recorded state (an orphaned crashed commit on top
    // would make the base unknowable) — otherwise one healing
    // overwrite. When merging, the state read is PRUNED to the touched
    // key RANGE: the state lays out range-clustered on the key, so a
    // band-shaped delta (the time-ordered ingest this mode targets)
    // prunes to the hot band's files via zone maps. A scattered delta
    // widens the range back to a full read — write cost stays
    // touched-group-bounded either way, and rows outside the delta
    // inside the range fold to untouched and are never written.
    val doMerge = stateMerge &&
      GraftTableLog.latestVersion(mv).contains(mvV0)
    // ONE action covers the emptiness check, the delete-image flag, and
    // (merge mode) the touched-group count + key range — these were
    // three separate driver actions over the same cached aggregate (r16
    // optimization round). delta empty ⇔ its group-aggregate is empty,
    // so the count serves the repack-only check (compaction/recluster —
    // watermark advance without touching the view). hasDel (r17) is
    // max(_mv_del) over the touched groups: an INSERT-ONLY span — every
    // plain ingest refresh — provably has no vanished groups (net row
    // counts only grow) and no rebuild-triggering groups (only delete
    // images send a group to rebuild), so the vanished-key anti-join
    // action and the rebuild-from-head plan branch are SKIPPED outright
    // below instead of materializing empty (guide §2.4: remove work the
    // driver can refute from facts already in hand).
    val (dCount, hasDel, keyRange) =
      if (!doMerge) {
        val r = d.select(count(lit(1)).as("n"),
          max(col("_mv_del")).as("del")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1), None)
      } else {
        val r = d.select(count(lit(1)).as("n"),
          max(col("_mv_del")).as("del"),
          min(keyExpr(groupCols)).as("lo"),
          max(keyExpr(groupCols)).as("hi")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1),
          if (r.getLong(0) == 0L) None
          else Some((r.getString(2), r.getString(3))))
      }
    if (dCount == 0L) {
      if (!claimState(mv, seq + 1, srcHead, mvV0))
        return latestState(mv).map(_._3).getOrElse(mvV0)
      return mvV0
    }
    val cur0 = spark.read.format(fmt).option("path", mv)
      .option("versionAsOf", mvV0.toString).load()
    val cur = (keyRange match {
      case Some((lo, hi)) =>
        cur0.filter(col(KeyCol) >= lit(lo) && col(KeyCol) <= lit(hi))
      case None => cur0
    }).alias("c")
    // FULL OUTER on null-safe group equality: NULL is a group key
    val on = groupCols.map(c => col(s"c.$c") <=> col(s"d.$c")).reduce(_ && _)
    val j = cur.join(d, on, "full_outer")
    val keyCols = groupCols.map(c => coalesce(col(s"c.$c"), col(s"d.$c")).as(c))
    def add(name: String): Column =
      (coalesce(col(s"c.$name"), lit(0)) + coalesce(col(s"d.$name"), lit(0)))
        .as(name)
    val merged = j.select(keyCols ++ Seq(
      add(RowsCol),
      coalesce(col("d._mv_del"), lit(0)).as("_mv_del"),
      // the delta side always aggregates a non-null signed row count,
      // so d-presence marks exactly the groups this delta touched
      col(s"d.$RowsCol").isNotNull.as("_mv_touched")) ++
      aggs.flatMap { a =>
        a.func match {
          case "count" => Seq(add(a.alias))
          case "sum" =>
            val t = sumType(schema, a.col)
            Seq((coalesce(col(s"c.${a.alias}"), lit(0).cast(t)) +
              coalesce(col(s"d.${a.alias}"), lit(0).cast(t))).cast(t)
              .as(a.alias), add(a.alias + "__cnt"))
          case "avg" =>
            val t = sumType(schema, a.col)
            Seq((coalesce(col(s"c.${a.alias}__sum"), lit(0).cast(t)) +
              coalesce(col(s"d.${a.alias}__sum"), lit(0).cast(t))).cast(t)
              .as(a.alias + "__sum"), add(a.alias + "__cnt"))
          // least/greatest SKIP nulls — correct merge of an absent side
          case "min" =>
            Seq(least(col(s"c.${a.alias}"), col(s"d.${a.alias}")).as(a.alias))
          case "max" =>
            Seq(greatest(col(s"c.${a.alias}"), col(s"d.${a.alias}")).as(a.alias))
          case "hll" =>
            // register-wise max of state ⊔ insert-image sketch; absent
            // side coalesces (register max over sketches of disjoint
            // row sets ≡ sketch of the union, so insert-only folds are
            // BIT-IDENTICAL to recompute)
            val s0 = col(s"c.${a.alias}"); val d0 = col(s"d.${a.alias}")
            Seq(when(s0.isNull, d0).when(d0.isNull, s0)
              .otherwise(graft.expr.HllAgg.merge2(s0, d0)).as(a.alias))
        }
      }: _*)
    // min/max/hll cannot un-see a deleted row: groups a DELETE image
    // touched rebuild from the head, pruned to exactly those keys.
    // hasDel == 0 (r17): no delete images anywhere in the span, so no
    // group can need the rebuild — drop the whole branch from the plan
    val needRebuild = rebuildsOnDelete(aggs) && hasDel == 1
    val sCols = (groupCols ++ stateCols(aggs)) :+ "_mv_touched"
    // the new full state, touched-flagged (rebuilt groups are touched
    // by construction — only delete images send a group to rebuild)
    val kept = {
      val keepClean = merged.filter(col(RowsCol) > 0 &&
          (if (needRebuild) col("_mv_del") === 0 else lit(true)))
        .select(sCols.map(col): _*)
      if (!needRebuild) keepClean
      else {
        val keys = merged.filter(col("_mv_del") === 1)
          .select(groupCols.map(col): _*).distinct().alias("k")
        val base = spark.read.format(fmt).option("path", src)
          .option("versionAsOf", srcHead.toString).load().alias("b")
        val kOn = groupCols.map(c => col(s"b.$c") <=> col(s"k.$c"))
          .reduce(_ && _)
        val rebuilt = fullState(
          base.join(broadcast(keys), kOn, "left_semi"), groupCols, aggs)
          .withColumn("_mv_touched", lit(true))
          .select(sCols.map(col): _*)
        keepClean.unionByName(rebuilt)
      }
    }
    def overwriteCommit(): Unit = {
      val out = kept.drop("_mv_touched")
      (if (stateMerge) clustered(out, groupCols) else out)
        .write.format(fmt).option("path", mv)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }
    if (!doMerge) overwriteCommit()
    else {
      // MERGE-mode: upsert only the touched survivors, delete vanished
      // keys — state READ pruned to the touched key range above, state
      // WRITE ∝ touched groups. `kept` is touched-group-sized here
      // (cur was pruned, d is the delta), so persisting it lets its
      // three consumers share one execution of the fold.
      val upserts = kept.filter(col("_mv_touched"))
        .drop("_mv_touched").withColumn(KeyCol, keyExpr(groupCols))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val touchedKeys = d.select(keyExpr(groupCols).as(KeyCol))
        // vanished = touched groups with no surviving state row. An
        // insert-only span (hasDel == 0) cannot vanish a group — net
        // per-group row counts only grow — so the anti-join action is
        // skipped on the driver's own facts (r17)
        val cap = mergeDeleteCap
        val vanished =
          if (hasDel == 0) Seq.empty[String]
          else touchedKeys.except(upserts.select(KeyCol))
            .limit(cap + 1).collect().map(_.getString(0)).toSeq
        if (vanished.size > cap) {
          // the vanished set outgrew the keyed-delete plan. `kept` is
          // RANGE-PRUNED here and cannot serve a whole-state
          // overwrite (it would drop every out-of-range group) — heal
          // by full recompute of the source head instead
          clustered(fullState(spark.read.format(fmt).option("path", src)
            .option("versionAsOf", srcHead.toString).load(),
            groupCols, aggs), groupCols)
            .write.format(fmt).option("path", mv)
            .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
        }
        else {
          if (vanished.nonEmpty)
            // the range conjunct is what PRUNES: zone maps refute
            // whole state files against [min, max] (a many-literal IN
            // alone defeats file-level refutation), the IN then
            // refines rows inside the surviving band
            GraftMaintenance.delete(spark, mv,
              col(KeyCol) >= lit(vanished.min) &&
                col(KeyCol) <= lit(vanished.max) &&
                col(KeyCol).isin(vanished: _*))
          // every touched group either survives (one upsert row) or
          // vanished, so |upserts| = dCount − |vanished| — no separate
          // isEmpty action over the cache needed; and the upsert keys
          // are unique/non-null BY CONSTRUCTION (one row per group)
          // with their range already in hand from the delta head, so
          // the merge skips its source-key audit action too (r16)
          if (dCount > vanished.size)
            GraftMaintenance.mergeTrustedKeys(spark, mv, upserts, KeyCol,
              (keyRange.get._1, keyRange.get._2))
        }
      } finally upserts.unpersist(false)
    }
    val mvV = GraftTableLog.latestVersion(mv).getOrElse(
      throw new IllegalStateException(
        s"graft mv: state commit landed but no log under $mv"))
    if (!claimState(mv, seq + 1, srcHead, mvV))
      // a concurrent refresh won the CAS: our data version is orphaned
      // by construction (no reader pins it); the winner's state governs
      return latestState(mv).map(_._3).getOrElse(mvV0)
    mvV
    } finally d.unpersist(false)
  }

  /** The view's CURRENT contents — the committed state projected to the
    * user-facing aggregate columns. Reads the MV table AS OF the state
    * record's version, never the raw head, so a crashed or CAS-losing
    * refresh's orphan commit is invisible. */
  def read(spark: SparkSession, mv: String): DataFrame = {
    val (src, groupCols, aggs, _) = readDef(mv)
    val (_, _, mvV) = latestState(mv).getOrElse(
      throw new IllegalStateException(
        s"graft mv: $mv has a definition but no committed state — " +
          "creation crashed; run refresh() to heal"))
    val schema = spark.read.format(fmt).option("path", src).load().schema
    val st = spark.read.format(fmt).option("path", mv)
      .option("versionAsOf", mvV.toString).load()
    st.select(groupCols.map(col) ++ aggs.map { a =>
      a.func match {
        case "count" | "min" | "max" => col(a.alias)
        case "sum" =>
          // non-null count 0 → NULL, like SQL SUM over an all-NULL group
          val v = if (isFractional(schema(a.col).dataType))
            col(a.alias).cast("double")
          else col(a.alias).cast("long")
          when(col(a.alias + "__cnt") > 0, v).otherwise(lit(null)).as(a.alias)
        case "avg" =>
          when(col(a.alias + "__cnt") > 0,
            col(a.alias + "__sum").cast("double") / col(a.alias + "__cnt"))
            .otherwise(lit(null)).as(a.alias)
        case "hll" =>
          graft.expr.HllAgg.estimate(col(a.alias)).as(a.alias)
      }
    }: _*)
  }

  /** The raw state table at the committed state version — spec surface
    * for parity checks against [[fullState]]-by-hand. */
  def stateSnapshot(spark: SparkSession, mv: String): DataFrame = {
    val (_, _, mvV) = latestState(mv).getOrElse(
      throw new IllegalStateException(s"graft mv: no committed state at $mv"))
    spark.read.format(fmt).option("path", mv)
      .option("versionAsOf", mvV.toString).load()
  }

  /** Drop the view: definition, state records, and the state table —
    * the whole MV directory. Refuses for a path that holds no committed
    * MV definition (the guard against deleting an ordinary table by
    * mistake). A refresh racing the drop loses harmlessly: its state
    * CAS has no `_graft_mv` directory left to land in and fails
    * loudly rather than resurrecting the view. */
  def drop(mv: String): Unit = {
    readDef(mv) // throws unless a committed definition exists
    val p = new Path(mv)
    val fs = p.getFileSystem(conf)
    require(fs.delete(p, true), s"graft mv: failed to delete $mv")
  }

  /** CONTINUOUS MV maintenance: a Structured Streaming query over the
    * source table's VERSION FEED ([[GraftVersionFeed]] — one metadata
    * row per commit, no append-only restriction) whose micro-batches
    * act as COMMIT SIGNALS — each batch fires one [[refresh]], so the
    * MV follows the source through the FULL writer alphabet (appends,
    * COW deletes, MERGE, compaction) continuously. Correctness never
    * rides on batch boundaries: refresh reads the change feed itself
    * under the state CAS, so a duplicate fire is a watermark no-op, a
    * crashed batch re-fires idempotently on restart, and a concurrent
    * manual refresh just wins or loses the CAS. The batch DataFrame is
    * deliberately never acted on (the signal costs one manifest read;
    * refresh pulls exactly the feed it needs). What the stream layer
    * contributes is what the refresh protocol lacks: trigger discipline
    * (`AvailableNow` drains to a fixed point and terminates; a
    * processing-time trigger polls a live table) and checkpointed
    * restart. */
  def refreshStream(spark: SparkSession, mv: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (src, _, _, _) = readDef(mv)
    spark.readStream.format(fmt).option("path", src)
      .option(GraftVersionFeed.OptionKey, "true").load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) => refresh(spark, mv); () }
      .start()
  }
}
